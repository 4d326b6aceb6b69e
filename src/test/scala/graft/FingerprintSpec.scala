package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.fingerprints.{Canonical, Fingerprint, Version}

/** Fingerprint algebra invariants (reference:
  * src/arti/fingerprints/__init__.py:18-66 — XOR combine, identity 0) and
  * version semantics (versions/__init__.py:118-195). Property-style over a
  * seeded sample (the scalatest+scalacheck bridge isn't in the offline
  * dependency set, so plain loops stand in). */
class FingerprintSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(42)
  private val samples: Seq[Long] = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue) ++ Seq.fill(50)(rnd.nextLong())

  test("identity is 0 and combine identity") {
    assert(Fingerprint.identity.key === 0L)
    for (l <- samples) {
      assert(Fingerprint.identity.combine(Fingerprint(l)) === Fingerprint(l))
      assert(Fingerprint(l).combine(Fingerprint.identity) === Fingerprint(l))
    }
  }

  test("combine is commutative and associative") {
    for (Seq(a, b, c) <- samples.sliding(3)) {
      val (fa, fb, fc) = (Fingerprint(a), Fingerprint(b), Fingerprint(c))
      assert(fa.combine(fb) === fb.combine(fa))
      assert(fa.combine(fb).combine(fc) === fa.combine(fb.combine(fc)))
    }
  }

  test("self-inverse (x ^ x = identity)") {
    for (l <- samples) assert(Fingerprint(l).combine(Fingerprint(l)) === Fingerprint.identity)
  }

  test("combineAll folds in any order to the same result") {
    val fps = samples.map(Fingerprint(_))
    assert(Fingerprint.combineAll(fps) === Fingerprint.combineAll(fps.reverse))
    assert(Fingerprint.combineAll(fps) === Fingerprint.combineAll(rnd.shuffle(fps)))
  }

  test("fromString is deterministic and discriminating") {
    assert(Fingerprint.fromString("abc") === Fingerprint.fromString("abc"))
    assert(Fingerprint.fromString("abc") !== Fingerprint.fromString("abd"))
    assert(Fingerprint.fromString("graft") === Fingerprint.fromBytes("graft".getBytes("UTF-8")))
  }

  test("SemVer fingerprints major only when major > 0 (minor bumps don't rebuild)") {
    assert(Version.SemVer(1, 0, 0).fingerprint === Version.SemVer(1, 2, 3).fingerprint)
    assert(Version.SemVer(1, 0, 0).fingerprint !== Version.SemVer(2, 0, 0).fingerprint)
    // pre-1.0: everything fingerprints
    assert(Version.SemVer(0, 1, 0).fingerprint !== Version.SemVer(0, 1, 1).fingerprint)
  }

  test("canonical codec: sorted keys, deterministic product hashing") {
    assert(Canonical.encode(Map("b" -> 1, "a" -> 2)) === """{"a":2,"b":1}""")
    assert(Canonical.encode(Seq(1, 2)) === "[1,2]")
    case class M(x: Int, s: String)
    assert(Canonical.fingerprint(M(1, "a")) === Canonical.fingerprint(M(1, "a")))
    assert(Canonical.fingerprint(M(1, "a")) !== Canonical.fingerprint(M(2, "a")))
  }

  test("model fingerprints are pinned across engine versions (memoization stability)") {
    // if these change, every previously-built partition would rebuild on the
    // next engine release — change them only with a deliberate migration
    import graft.graph.Artifact
    import graft.io.Format
    import graft.storage.{FileStorage, PathTemplate}
    import graft.types.ArtiType._
    val a = Artifact(
      ACollection("pin", AStruct("r", Seq("id" -> AInt64(), "d" -> ADate())), partitionBy = Seq("d")),
      Format.Parquet, FileStorage(PathTemplate("/data/{d.iso}", Map("d" -> "date"))))
    assert(a.fingerprint.key === 551214474025170896L)
    assert(Canonical.fingerprint(("v", 1, Seq(1L, 2L))).key === 4958105272591892815L)
  }

  test("literal-artifact fingerprints are pinned (Artifact.of's JSON payload bytes)") {
    // values taken from the engine before Artifact.of shared Canonical's
    // string escaper: a payload byte change would rebuild every consumer
    import java.time.{LocalDate, LocalDateTime}
    import graft.graph.Artifact
    assert(Artifact.of("q\"uote\nnl\ttab\u0001ctl").fingerprint.key === -8178161069424950408L)
    assert(Artifact.of(3.25d).fingerprint.key === 5224087575888618827L)
    assert(Artifact.of(LocalDate.of(2024, 2, 29)).fingerprint.key === 5044493531840473466L)
    assert(Artifact.of(LocalDateTime.of(2024, 2, 29, 13, 45, 7, 123000000)).fingerprint.key ===
      4696546445251720284L)
    assert(Artifact.of(Seq(1L, -2L, 3L)).fingerprint.key === -1592080336272729268L)
  }
}
