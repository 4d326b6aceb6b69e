package graft

import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.fingerprints.{Canonical, Fingerprint}
import graft.graph.{Artifact, FileBackend, GraphModel, ModelCodec, ProducerWiring}
import graft.io.Format
import graft.partitions.PartitionField.{DateField, IntField}
import graft.storage.{FileStorage, LiteralStorage, PathTemplate, StoragePartition}
import graft.types.{ArtiType, SparkTypeSystem => S}
import graft.types.ArtiType._

/** Property-based invariants for the algebraic cores: fingerprint XOR
  * algebra, render∘parse identity for path templates, and the persistence
  * codecs (backend records, graph models, ArtiType). These are the laws
  * everything else leans on — memoization, partition discovery, model
  * read-back. */
class PropertiesSpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, s"$name: ${r.status}")
  }

  // ------------------------------------------------------- fingerprints
  test("fingerprint combine is commutative, associative, identity-0, self-inverse") {
    check("xor-algebra", Prop.forAll { (a: Long, b: Long, c: Long) =>
      val (fa, fb, fc) = (Fingerprint(a), Fingerprint(b), Fingerprint(c))
      fa.combine(fb) == fb.combine(fa) &&
        fa.combine(fb).combine(fc) == fa.combine(fb.combine(fc)) &&
        fa.combine(Fingerprint.identity) == fa &&
        fa.combine(fa) == Fingerprint.identity
    })
  }

  test("combineAll folds identically in ANY order (shuffle-safety)") {
    check("combineAll-order", Prop.forAll { (xs: List[Long]) =>
      val fps = xs.map(Fingerprint(_))
      val forward = Fingerprint.combineAll(fps)
      forward == Fingerprint.combineAll(fps.reverse) &&
        forward == Fingerprint.combineAll(fps.sortBy(_.key))
    })
  }

  test("canonical encoding separates distinct scalar tuples") {
    check("canonical-injective", Prop.forAll { (a: (Long, String), b: (Long, String)) =>
      a == b || Canonical.encode(a) != Canonical.encode(b)
    })
  }

  // ------------------------------------------------------ path templates
  private val genDate: Gen[java.time.LocalDate] =
    Gen.choose(0L, 200L * 365).map(java.time.LocalDate.ofEpochDay)

  test("path templates: parse(render(key)) == key for date+int keys") {
    val tpl = PathTemplate("/data/{graph_name}/y={i}/d={date.iso}/{input_fingerprint}",
      Map("i" -> "int", "date" -> "date")).bind(Map("graph_name" -> "g"))
    check("render-parse-id",
      Prop.forAll(Gen.choose(-1000000L, 1000000L), genDate, Arbitrary.arbitrary[Long]) {
        (i, d, fp) =>
          val key = Map[String, graft.partitions.PartitionField]("i" -> IntField(i), "date" -> DateField(d))
          val path = tpl.render(key, Map("input_fingerprint" -> fp.toString))
          tpl.parse(path) == Some((key, Some(Fingerprint(fp))))
      })
  }

  test("path templates: trailing junk never parses") {
    val tpl = PathTemplate("/d/y={i}", Map("i" -> "int"))
    check("no-junk-parse",
      Prop.forAll(Gen.choose(-9999L, 9999L), Gen.alphaNumStr.suchThat(_.nonEmpty)) {
        (i, junk) =>
          val path = tpl.render(Map("i" -> IntField(i)))
          tpl.parse(path + "/" + junk).isEmpty
      })
  }

  // ------------------------------------------- metadata JSON codec
  /** Arbitrary valid Unicode text: control characters, JSON's quote and
    * backslash, BMP text and supplementary code points (surrogate pairs).
    * Lone surrogates are left out: a UTF-8 file cannot hold them. */
  private val genText: Gen[String] = Gen.listOf(Gen.frequency(
      3 -> Gen.choose(0, 0x1f),
      2 -> Gen.oneOf('"'.toInt, '\\'.toInt, '/'.toInt, 0x7f),
      3 -> Gen.choose(0x20, 0x7e),
      2 -> Gen.choose(0xa0, 0xd7ff),
      1 -> Gen.choose(0xe000, 0xfffd),
      2 -> Gen.choose(0x10000, 0x10ffff)))
    .map(cps => new String(cps.toArray, 0, cps.size))

  test("FileBackend: arbitrary strings survive write -> reopen") {
    check("filebackend-strings", Prop.forAll(genText, genText) { (a, b) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-prop-fb").toString
      val part = StoragePartition(a, Map(b -> IntField(1)), Fingerprint(3L), None)
      val w = new FileBackend(dir)
      w.writeGraph(a, Fingerprint(1L))
      w.tag(a, Fingerprint(2L), b, overwrite = false)
      w.writeArtifactPartitions(b, Seq(part))
      w.writeStatistics(b, a, Map(a -> b))
      val r = new FileBackend(dir)
      r.snapshotForTag(a, b) == Some(Fingerprint(2L)) &&
        r.readArtifactPartitions(b) == Seq(part) &&
        r.readStatistics(b) == Map(a -> Map(a -> b))
    })
  }

  test("ModelCodec: decode(encode(m)) == m for arbitrary keys, annotations and templates") {
    check("modelcodec-strings", Prop.forAll(genText, genText) { (a, b) =>
      val m = GraphModel(a,
        Seq(a -> Artifact(AInt64(), Format.Json, FileStorage(PathTemplate(b, Map(a -> "date"))), Map(a -> b)),
          b -> Artifact(AString(), Format.Json, LiteralStorage(a), Map(b -> a))),
        Seq(ProducerWiring(b, Seq(a), Seq(b))))
      ModelCodec.decode(ModelCodec.encode(m)) == m
    })
  }

  // ------------------------------------------------------ ArtiType codec
  private lazy val genScalar: Gen[ArtiType] = Gen.oneOf(
    Gen.const(ABoolean(): ArtiType), Gen.const(ADate(): ArtiType), Gen.const(ADateTime(): ArtiType),
    Gen.const(ATimestamp(): ArtiType), Gen.const(AInt8(): ArtiType), Gen.const(AInt16(): ArtiType),
    Gen.const(AInt32(): ArtiType), Gen.const(AInt64(): ArtiType), Gen.const(AUInt8(): ArtiType),
    Gen.const(AUInt16(): ArtiType), Gen.const(AUInt32(): ArtiType), Gen.const(AUInt64(): ArtiType),
    Gen.const(AFloat32(): ArtiType), Gen.const(AFloat64(): ArtiType),
    Gen.oneOf(true, false).map(n => AString(nullable = n): ArtiType),
    Gen.oneOf(ArtiType.TimePrecision.all).map(p => ATime(p): ArtiType),
    Gen.nonEmptyListOf(Gen.asciiPrintableStr).map(items =>
      AEnum("e", AString(), items.distinct): ArtiType))

  private lazy val genType: Gen[ArtiType] = Gen.sized { size =>
    if (size <= 1) genScalar
    else Gen.oneOf(
      genScalar,
      Gen.resize(size / 2, genType).map(t => AList(t): ArtiType),
      Gen.resize(size / 2, genType).map(t => ASet(t): ArtiType),
      // Spark's MapType has no key-nullability attribute, so a TOP-LEVEL
      // nullable key is physically unrepresentable — a real limit of the
      // carrier, excluded from generation (nested nullability is fine)
      Gen.resize(size / 2, Gen.zip(genType.suchThat(!_.nullable), genType))
        .map { case (k, v) => AMap(k, v): ArtiType },
      Gen.resize(size / 2, Gen.listOfN(2, genType)).map(ts =>
        AStruct("s", ts.zipWithIndex.map { case (t, i) => s"f$i" -> t }): ArtiType))
  }

  test("ArtiType JSON codec: typeFromJson(typeToJson(t)) == t for generated types") {
    check("type-codec-roundtrip", Prop.forAll(genType) { t =>
      S.typeFromJson(S.typeToJson(t)) == t
    })
  }

  // ------------------------------------------------- Avro adapter laws
  import graft.types.AvroTypeSystem

  /** Make a generated type Avro-legal: map keys become strings (Avro maps
    * require them — non-string keys are an explicit refusal, tested in
    * AvroTypesSpec) and nested records get unique names (Avro full-names
    * must not collide within one schema). */
  private def avroize(t: ArtiType, depth: Int = 0): ArtiType = t match {
    case m: AMap    => m.copy(key = AString(), value = avroize(m.value, depth + 1))
    case l: AList   => l.copy(element = avroize(l.element, depth + 1))
    case s: ASet    => s.copy(element = avroize(s.element, depth + 1))
    case s: AStruct => AStruct(s"s$depth", s.fields.zipWithIndex.map {
      case ((n, f), i) => n -> avroize(f, depth * 10 + i + 1)
    }, s.nullable, s.description)
    case other => other
  }

  /** The adapter's DOCUMENTED widening normal form: what a round trip must
    * land on (exact types map to themselves). */
  private def widen(t: ArtiType): ArtiType = t match {
    case x: AInt8  => AInt32(x.nullable)
    case x: AInt16 => AInt32(x.nullable)
    case x: AUInt8  => AInt32(x.nullable)
    case x: AUInt16 => AInt32(x.nullable)
    case x: AUInt32 => AInt64(x.nullable)
    case x: ATime if x.precision == ArtiType.TimePrecision.Second =>
      x.copy(precision = ArtiType.TimePrecision.Millisecond)
    case x: ATimestamp if x.precision == ArtiType.TimePrecision.Second =>
      x.copy(precision = ArtiType.TimePrecision.Millisecond)
    case x: ADateTime if x.precision == ArtiType.TimePrecision.Second =>
      x.copy(precision = ArtiType.TimePrecision.Millisecond)
    case x: AEnum =>
      val symbolic = x.underlying.isInstanceOf[AString] &&
        x.items.forall { case s: String => s.matches("[A-Za-z_][A-Za-z0-9_]*"); case _ => false }
      if (symbolic) AEnum(x.name, AString(), x.items, x.nullable)
      else AString(x.nullable) // genScalar only builds string-underlying enums
    case l: AList   => l.copy(element = widen(l.element))
    case s: ASet    => s.copy(element = widen(s.element))
    case m: AMap    => m.copy(key = AString(), value = widen(m.value))
    case s: AStruct => s.copy(fields = s.fields.map { case (n, f) => n -> widen(f) })
    case other => other
  }

  test("Avro adapter: toArti(toAvro(t)) == documented normal form for generated types") {
    check("avro-roundtrip-normalform", Prop.forAll(genType) { t0 =>
      val t = avroize(t0)
      AvroTypeSystem.toArti(AvroTypeSystem.toAvro(t)) == widen(t)
    })
  }

  // ------------------------------------------------ Arrow adapter laws
  import graft.types.ArrowTypeSystem

  /** Arrow's normal form is near-identity (unsigned ints, float16, and the
    * full second..nano temporal family are native): the ONLY normalization
    * is the enum symbol rule — non-symbol items can't ride the
    * comma-joined metadata, so the type degrades to its underlying
    * (mirrors the Avro leg's symbol rule). */
  private def arrowNormal(t: ArtiType): ArtiType = t match {
    case x: AEnum =>
      val symbolic = x.items.nonEmpty && x.underlying.isInstanceOf[AString] &&
        x.items.forall { case s: String => s.matches("[A-Za-z_][A-Za-z0-9_]*"); case _ => false }
      if (symbolic) AEnum(x.name, AString(), x.items, x.nullable)
      else AString(x.nullable) // genScalar only builds string-underlying enums
    case l: AList   => l.copy(element = arrowNormal(l.element))
    case s: ASet    => s.copy(element = arrowNormal(s.element))
    case m: AMap    => m.copy(key = arrowNormal(m.key), value = arrowNormal(m.value))
    case s: AStruct => s.copy(fields = s.fields.map { case (n, f) => n -> arrowNormal(f) })
    case other => other
  }

  test("Arrow adapter: toArti(toArrow(t)) == near-identity normal form for generated types") {
    check("arrow-roundtrip-normalform", Prop.forAll(genType) { t =>
      ArrowTypeSystem.toArti(ArrowTypeSystem.toArrow(t)) == arrowNormal(t)
    })
  }

  // --------------------------------------------- r6 kernel laws (FastOps)
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private val genToken = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private def arr(ts: Seq[String]) =
    new GenericArrayData(ts.map(t => UTF8String.fromString(t)).toArray[Any])

  test("bigramBuckets: length n-1, range [0,buckets), equals the md5-hex spelling") {
    check("bigram-buckets", Prop.forAll(Gen.listOf(genToken), Gen.choose(2, 20000)) { (ts, n) =>
      val out = graft.functions.FastOps.bigramBuckets(arr(ts), n)
      val expected = ts.iterator.sliding(2).withPartial(false).map { pair =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"${pair.head} ${pair.last}".getBytes)
          .take(4).map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex, 16) % n
      }.toSeq
      val got = (0 until out.numElements()).map(out.getLong)
      got == expected && got.forall(v => v >= 0 && v < n) &&
        out.numElements() == math.max(ts.length - 1, 0)
    })
  }

  test("BPE greedy fold == gaps-and-islands merge (the x80 engine/oracle equivalence)") {
    val genSym = Gen.oneOf("a", "b", "ab", "c")
    check("bpe-greedy", Prop.forAll(
      Gen.listOf(genSym), Gen.oneOf(("a", "b"), ("a", "a"), ("b", "a"), ("ab", "c"))) {
      case (syms, (l, r)) =>
        // fold form (the engine): merge iff acc.last==l && cur==r
        val fold = syms match {
          case Nil => Nil
          case h :: t => t.foldLeft(List(h)) { (acc, cur) =>
            if (acc.last == l && cur == r) acc.init :+ (l + r) else acc :+ cur
          }
        }
        // islands form (the oracle): within each maximal run of
        // consecutive match positions, merge at even offsets; a position
        // is dropped iff its predecessor merged
        val m = syms.indices.map(i =>
          i < syms.length - 1 && syms(i) == l && syms(i + 1) == r)
        val mh = Array.fill(syms.length)(false)
        var i = 0
        while (i < syms.length) {
          if (m(i)) {
            var runStart = i
            while (i < syms.length && m(i)) {
              mh(i) = (i - runStart) % 2 == 0
              i += 1
            }
          } else i += 1
        }
        val islands = syms.indices.collect {
          case i if mh(i) => l + r
          case i if !mh(i) && (i == 0 || !mh(i - 1)) => syms(i)
        }.toList
        fold == islands
    })
  }

  test("power-iteration normalize: max-norm pinned at 1e6, direction scale-invariant in sign") {
    check("maxnorm", Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(-1000000000000L, 1000000000000L))
        .suchThat(_.exists(_ != 0L))) { ws =>
      val m = ws.map(math.abs).max
      val v = ws.map(_ * 1000000L / m)
      v.map(math.abs).max == 1000000L || // the max element hits exactly 1e6...
        // ...unless truncation rounds a tie down (|w|=m ⇒ exactly ±1e6, so it can't)
        v.map(math.abs).max <= 1000000L && ws.map(math.abs).count(_ == m) > 0 &&
          v(ws.indexWhere(w => math.abs(w) == m)).abs == 1000000L
    })
  }

  // ----------------------------------------------- perceptual hash laws
  private val rasterGen: Gen[(Int, Int, Array[Byte])] = for {
    w <- Gen.choose(4, 12)
    h <- Gen.choose(4, 12)
    px <- Gen.listOfN(w * h * 3, Gen.choose(0, 63))
  } yield (w, h, px.map(_.toByte).toArray)

  test("ahashPpm: brightness-scale invariant (the cross-multiplied bit rule's whole point)") {
    // multiplying every pixel byte by c scales all cell AND total luma
    // sums by c, so cellSum·totCnt > totSum·cellCnt is unchanged —
    // aHash must be invariant under uniform brightness scaling
    check("ahash-scale", Prop.forAll(rasterGen, Gen.choose(2, 4)) {
      case ((w, h, px), c) =>
        import graft.operators.MediaCodecs
        val scaled = px.map(b => (b * c).toByte)
        MediaCodecs.ahashPpm(MediaCodecs.encodePpm(w, h, px)) ==
          MediaCodecs.ahashPpm(MediaCodecs.encodePpm(w, h, scaled))
    })
  }

  test("ahashWav: amplitude-scale invariant and flat-clip zero") {
    check("ahash-wav", Prop.forAll(
      Gen.listOfN(200, Gen.choose(-4000, 4000)), Gen.choose(2, 4)) { (ss, c) =>
      import graft.operators.MediaCodecs
      val s = ss.map(_.toShort).toArray
      val scaled = ss.map(v => (v * c).toShort).toArray
      // energies scale by c² uniformly — fingerprint unchanged
      MediaCodecs.ahashWav(MediaCodecs.encodeWav(8000, s)) ==
        MediaCodecs.ahashWav(MediaCodecs.encodeWav(8000, scaled)) &&
        // constant amplitude: no frame beats the clip mean
        MediaCodecs.ahashWav(MediaCodecs.encodeWav(8000, Array.fill(200)(777.toShort))) == 0L
    })
  }

  // ------------------------------------------ prefix-filter completeness
  test("prefix filter is COMPLETE at jac >= 0.5 (the x93 candidate theorem)") {
    // mirror x93's rule in pure Scala: prefix = the |S| - ceil(|S|/2) + 1
    // smallest elements under the global order; every pair with
    // jac >= 0.5 MUST share a prefix element on both sides
    val setGen = Gen.chooseNum(3, 30).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 40L)).map(_.toSet))
    check("prefix-complete", Prop.forAll(Gen.listOfN(8, setGen)) { sets =>
      def prefix(s: Set[Long]): Set[Long] = {
        val n = s.size
        s.toSeq.sorted.take(n - (n + 1) / 2 + 1).toSet
      }
      val docs = sets.zipWithIndex
      docs.combinations(2).forall { case Seq((sa, _), (sb, _)) =>
        val inter = (sa & sb).size
        val jac = inter.toDouble / (sa.size + sb.size - inter)
        jac < 0.5 || (prefix(sa) & prefix(sb)).nonEmpty
      }
    })
  }

  test("FirstK admission is partition- and order-invariant (the qs21 exactness law)") {
    import graft.functions.{AdmitEntry, FirstK}
    val agg = new FirstK(5)
    def fold(xs: Seq[AdmitEntry]) = xs.foldLeft(agg.zero)(agg.reduce)
    // event ids synthesized unique (as in real data) so the (ts, id)
    // order is total and ties cannot hide behind sort stability
    val gen = Gen.listOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 1000L)))
      .map(_.zipWithIndex.map { case ((t, u), i) => AdmitEntry(t, i.toLong, u) })
    check("firstk-invariance", Prop.forAll(gen, Gen.choose(0, 100), Gen.choose(0, 100)) {
      (es, c1, c2) =>
        val truth = es.sortBy(e => (e.k1, e.k2)).take(5)
        val (a, rest) = es.splitAt(if (es.isEmpty) 0 else c1 % (es.length + 1))
        val (b, c) = rest.splitAt(if (rest.isEmpty) 0 else c2 % (rest.length + 1))
        // any partition, any association, any commutation, any arrival order
        agg.finish(agg.merge(agg.merge(fold(a), fold(b)), fold(c))) == truth &&
        agg.finish(agg.merge(fold(c), agg.merge(fold(b), fold(a)))) == truth &&
        agg.finish(fold(scala.util.Random.javaRandomToRandom(
          new java.util.Random(42)).shuffle(es))) == truth
    })
  }

  test("half-up integer rational (2n+d) div (2d) IS round-half-up(n/d) — the r7 exactness core") {
    // every integer-exact score in the registry (BM25 micros, RRF ppm,
    // Bradley-Terry theta, jac/cont ppm, accuracy ppm...) leans on this
    // identity; prove it against BigDecimal HALF_UP over the full range
    val gen = Gen.zip(Gen.choose(0L, 1L << 40), Gen.choose(1L, 1L << 20))
    check("half-up-div", Prop.forAll(gen) { case (n, d) =>
      val viaFormula = (BigInt(2) * n + d) / (BigInt(2) * d)
      val viaDecimal = BigInt(new java.math.BigDecimal(n)
        .divide(new java.math.BigDecimal(d), 0, java.math.RoundingMode.HALF_UP)
        .toBigIntegerExact)
      viaFormula == viaDecimal
    })
    // and the scaled form used for ppm/micros quantization
    val genScaled = Gen.zip(Gen.choose(0L, 1L << 30), Gen.choose(1L, 1L << 30))
    check("half-up-ppm", Prop.forAll(genScaled) { case (n, d0) =>
      val d = math.max(n, d0) // ratios <= 1, the ppm share shape
      val viaFormula = (BigInt(2) * n * 1000000 + d) / (BigInt(2) * d)
      val viaDecimal = BigInt(new java.math.BigDecimal(n).multiply(
          new java.math.BigDecimal(1000000))
        .divide(new java.math.BigDecimal(d), 0, java.math.RoundingMode.HALF_UP)
        .toBigIntegerExact)
      viaFormula == viaDecimal && viaFormula >= 0 && viaFormula <= 1000000
    })
  }
}
