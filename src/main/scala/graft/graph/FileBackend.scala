package graft.graph

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.NullNode

import graft.fingerprints.Fingerprint
import graft.partitions.PartitionField
import graft.partitions.PartitionField.{DateField, IntField, NullField}
import graft.storage.StoragePartition
import graft.util.Json
import graft.util.Json._

/** Durable metadata backend (reference F37 — the reference ships only the
  * in-memory backend with real stores left TODO, backends/__init__.py:20-23):
  * the same contract as [[MemoryBackend]], persisted as append-only JSONL
  * event logs under a directory and replayed on construction. Metadata is
  * driver-scale (one record per partition, not per row), so a local/object
  * store file is the right shape; skip-if-built memoization now survives
  * process restarts — a property the reference never had.
  */
final class FileBackend(dir: String) extends Backend {
  private val root: Path = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    p
  }
  private val mem = new MemoryBackend
  private val lock = new Object

  // ---- record codec. The on-disk format is fixed: logs written by any
  // earlier version must replay, so keys and nesting never change ----
  private def encodeField(f: PartitionField): JsonNode = f match {
    case DateField(d) => obj("kind" -> str("date"), "iso" -> str(d.toString))
    case IntField(v)  => obj("kind" -> str("int"), "value" -> num(v))
    case NullField    => obj("kind" -> str("null"))
  }

  private def encodePartition(p: StoragePartition): JsonNode = obj(
    "path" -> str(p.path),
    "key" -> obj(p.key.toSeq.sortBy(_._1).map { case (n, f) => n -> encodeField(f) }: _*),
    "input_fp" -> num(p.inputFingerprint.key),
    "content_fp" -> p.contentFingerprint.fold(NullNode.instance: JsonNode)(fp => num(fp.key)))

  private def decodeField(j: JsonNode): PartitionField = j("kind").str match {
    case "date" => DateField(LocalDate.parse(j("iso").str))
    case "int"  => IntField(j("value").num)
    case "null" => NullField
    case other  => throw new IllegalArgumentException(s"unknown partition field kind '$other'")
  }

  private def decodePartition(j: JsonNode): StoragePartition = {
    val content = j("content_fp")
    StoragePartition(
      path = j("path").str,
      key = j("key").obj.map { case (n, f) => n -> decodeField(f) }.toMap,
      inputFingerprint = Fingerprint(j("input_fp").num),
      contentFingerprint = if (content.isNull) None else Some(Fingerprint(content.num)))
  }

  // ---- persistence ----
  /** Crash recovery at open: a torn final line (append died before the
    * trailing '\n') is an uncommitted record. Left in place it would merge
    * with the NEXT append into one unparseable interior line — bricking the
    * strict replay forever. Truncating back to the last committed newline is
    * the standard append-only-log repair: the torn record was never
    * acknowledged, so dropping it loses nothing. */
  private def repairTail(file: String): Unit = {
    val p = root.resolve(file)
    if (Files.exists(p) && Files.size(p) > 0) {
      val bytes = Files.readAllBytes(p)
      if (bytes.last != '\n') {
        val lastNl = bytes.lastIndexOf('\n'.toByte)
        val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.WRITE)
        try ch.truncate(lastNl + 1L) finally ch.close()
      }
    }
  }

  /** Callers hold `lock`: check-and-append is one step, since the
    * executor writes from many threads. */
  private def append(file: String, record: JsonNode): Unit =
    Files.write(root.resolve(file), (Json.render(record) + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  // replay the event logs into the in-memory projection. Only the FINAL
  // line of an append-only log can be torn by a crash mid-append, so that
  // is the only position where a structural failure (not one complete JSON
  // object) is tolerated. Anywhere else — an interior line that doesn't
  // parse, or any record that parses but can't apply (missing or mistyped
  // fields) — is real corruption and must be loud: silently dropping it
  // would lose partition/tag metadata and break memoization.
  private def replay(file: String)(apply: JsonNode => Unit): Unit = {
    val p = root.resolve(file)
    val lines = if (Files.exists(p)) Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq else Nil
    for ((l, idx) <- lines.zipWithIndex) {
      Try(Json.parse(l)).filter(_.isObject).toOption match {
        case Some(r) =>
          Try(apply(r)).failed.foreach { e =>
            throw new IllegalStateException(s"corrupt backend log $file: ${e.getMessage} in: $l", e)
          }
        case None if idx == lines.size - 1 => () // torn trailing append: skip
        case None =>
          throw new IllegalStateException(
            s"corrupt backend log $file: unparseable interior line ${idx + 1}: $l")
      }
    }
  }

  private val LogFiles = Seq("graphs.jsonl", "snapshots.jsonl", "tags.jsonl",
    "artifact_parts.jsonl", "snapshot_parts.jsonl", "stats.jsonl", "models.jsonl")

  locally {
    LogFiles.foreach(repairTail)
    replay("graphs.jsonl")(r => mem.writeGraph(r("name").str, Fingerprint(r("fp").num)))
    replay("snapshots.jsonl")(r => mem.writeSnapshot(r("graph").str, Fingerprint(r("id").num)))
    replay("tags.jsonl")(r => mem.tag(r("graph").str, Fingerprint(r("id").num), r("tag").str, overwrite = true))
    replay("artifact_parts.jsonl")(r =>
      mem.writeArtifactPartitions(r("artifact").str, Seq(decodePartition(r("part")))))
    replay("snapshot_parts.jsonl")(r =>
      mem.linkSnapshotPartitions(Fingerprint(r("snapshot").num), r("artifact").str, Seq(decodePartition(r("part")))))
    replay("stats.jsonl")(r => mem.writeStatistics(r("artifact").str, r("path").str, r("stats").strMap))
    // a model rides as ONE string field per record (the log's format
    // since models were first persisted); last write per graph wins
    replay("models.jsonl")(r => mem.writeGraphModel(ModelCodec.decode(r("model").str)))
  }

  // ---- Backend contract: write-through to log + memory projection. A
  // record is appended only if it changes the projection, so a no-op
  // rebuild leaves the log as it was. ----
  def writeGraph(name: String, fingerprint: Fingerprint): Unit = lock.synchronized {
    if (!mem.graphFingerprint(name).contains(fingerprint)) {
      append("graphs.jsonl", obj("name" -> str(name), "fp" -> num(fingerprint.key)))
      mem.writeGraph(name, fingerprint)
    }
  }

  def writeSnapshot(graphName: String, id: Fingerprint): Unit = lock.synchronized {
    if (!mem.hasSnapshot(graphName, id)) {
      append("snapshots.jsonl", obj("graph" -> str(graphName), "id" -> num(id.key)))
      mem.writeSnapshot(graphName, id)
    }
  }

  def tag(graphName: String, id: Fingerprint, tag: String, overwrite: Boolean): Unit = lock.synchronized {
    val held = mem.snapshotForTag(graphName, tag)
    mem.tag(graphName, id, tag, overwrite) // throws on conflict BEFORE logging
    if (!held.contains(id))
      append("tags.jsonl", obj("graph" -> str(graphName), "tag" -> str(tag), "id" -> num(id.key)))
  }

  def snapshotForTag(graphName: String, tag: String): Option[Fingerprint] =
    mem.snapshotForTag(graphName, tag)

  def writeArtifactPartitions(artifactKey: String, parts: Seq[StoragePartition]): Unit = lock.synchronized {
    val fresh = MemoryBackend.unseen(mem.readArtifactPartitions(artifactKey, None), parts)
    fresh.foreach(p =>
      append("artifact_parts.jsonl", obj("artifact" -> str(artifactKey), "part" -> encodePartition(p))))
    mem.writeArtifactPartitions(artifactKey, fresh)
  }

  def readArtifactPartitions(artifactKey: String, inputFingerprints: Option[Set[Fingerprint]]): Seq[StoragePartition] =
    mem.readArtifactPartitions(artifactKey, inputFingerprints)

  def linkSnapshotPartitions(snapshotId: Fingerprint, artifactKey: String, parts: Seq[StoragePartition]): Unit =
    lock.synchronized {
      val fresh = MemoryBackend.unseen(mem.readSnapshotPartitions(snapshotId, artifactKey), parts)
      fresh.foreach(p => append("snapshot_parts.jsonl",
        obj("snapshot" -> num(snapshotId.key), "artifact" -> str(artifactKey), "part" -> encodePartition(p))))
      mem.linkSnapshotPartitions(snapshotId, artifactKey, fresh)
    }

  def readSnapshotPartitions(snapshotId: Fingerprint, artifactKey: String): Seq[StoragePartition] =
    mem.readSnapshotPartitions(snapshotId, artifactKey)

  def writeStatistics(artifactKey: String, partitionPath: String, stats: Map[String, String]): Unit =
    lock.synchronized {
      if (!mem.statistics(artifactKey, partitionPath).contains(stats)) {
        append("stats.jsonl", obj("artifact" -> str(artifactKey), "path" -> str(partitionPath), "stats" -> strMap(stats)))
        mem.writeStatistics(artifactKey, partitionPath, stats)
      }
    }

  def readStatistics(artifactKey: String): Map[String, Map[String, String]] =
    mem.readStatistics(artifactKey)

  def writeGraphModel(model: GraphModel): Unit = lock.synchronized {
    if (!mem.readGraphModel(model.name).contains(model)) {
      append("models.jsonl", obj("graph" -> str(model.name), "model" -> str(ModelCodec.encode(model))))
      mem.writeGraphModel(model)
    }
  }

  def readGraphModel(graphName: String): Option[GraphModel] = mem.readGraphModel(graphName)
}
