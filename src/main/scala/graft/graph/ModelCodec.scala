package graft.graph

import com.fasterxml.jackson.databind.JsonNode

import graft.io.Format
import graft.storage.{FileStorage, LiteralStorage, PathTemplate, Storage}
import graft.types.SparkTypeSystem
import graft.util.Json
import graft.util.Json._

/** The persistable shape of a graph (F37 model read-back — reference:
  * src/arti/backends/__init__.py:59-81 `read_graph`/`read_snapshot` return
  * the stored model). Artifacts are pure data (type, format, storage,
  * annotations) and round-trip completely; producers are CODE — their
  * closures cannot live in a metadata store, so the model records their
  * wiring (name, inputs, outputs) only, which is exactly what read-back
  * needs: resolving a tag and serving reads requires artifacts, not builds.
  */
final case class GraphModel(
    name: String,
    artifacts: Seq[(String, Artifact)],
    wiring: Seq[ProducerWiring]) {
  def artifact(key: String): Artifact =
    artifacts.collectFirst { case (k, a) if k == key => a }
      .getOrElse(throw new NoSuchElementException(s"unknown artifact '$key' in stored model of graph '$name'"))
  /** An artifact is raw iff no producer outputs it — derivable from wiring
    * alone, same rule the live Graph uses. */
  def isRaw(key: String): Boolean = !wiring.exists(_.outputKeys.contains(key))
}

final case class ProducerWiring(producerName: String, inputKeys: Seq[String], outputKeys: Seq[String])

object GraphModel {
  def of(g: Graph): GraphModel = GraphModel(
    g.name,
    g.artifacts.toSeq.sortBy(_._1),
    g.bindings.map(b => ProducerWiring(b.producer.name, b.inputKeys, b.outputKeys)))
}

/** JSON codec for [[GraphModel]]. Types ride as Spark DataType JSON
  * (SparkTypeSystem.typeToJson); storages encode by kind. */
object ModelCodec {

  def encode(m: GraphModel): String = Json.render(obj(
    "name" -> str(m.name),
    "artifacts" -> arr(m.artifacts.map { case (k, a) => obj(
      "key" -> str(k),
      "atype" -> str(SparkTypeSystem.typeToJson(a.atype)),
      "format" -> str(a.format.name),
      "storage" -> encodeStorage(a.storage),
      "annotations" -> strMap(a.annotations))
    }),
    "wiring" -> arr(m.wiring.map(w => obj(
      "producer" -> str(w.producerName),
      "inputs" -> arr(w.inputKeys.map(str)),
      "outputs" -> arr(w.outputKeys.map(str)))))))

  def decode(json: String): GraphModel = {
    val j = Json.parse(json)
    GraphModel(
      name = j("name").str,
      artifacts = j("artifacts").arr.map { a =>
        a("key").str -> Artifact(
          atype = SparkTypeSystem.typeFromJson(a("atype").str),
          format = formatOf(a("format").str),
          storage = decodeStorage(a("storage")),
          annotations = a("annotations").strMap)
      },
      wiring = j("wiring").arr.map(w => ProducerWiring(
        w("producer").str,
        w("inputs").arr.map(_.str),
        w("outputs").arr.map(_.str))))
  }

  /** Raised when a graph carries a Storage with no registered codec.
    * `Graph.snapshot` never catches this: it PRE-CHECKS via [[canEncode]]
    * (the same codec lookup [[encodeStorage]] dispatches on) and skips
    * model persistence with a warning, so the exception only surfaces on a
    * direct `encode` of an unsupported model. */
  final class UnsupportedStorage(msg: String) extends IllegalArgumentException(msg)

  /** F23-style extension seam, mirroring IO.register: a custom Storage
    * subclass becomes model-persistable by registering a codec under a
    * unique kind. */
  private val storageCodecs =
    scala.collection.concurrent.TrieMap.empty[String, (PartialFunction[Storage, JsonNode], JsonNode => Storage)]

  def registerStorage(kind: String, enc: PartialFunction[Storage, JsonNode], dec: JsonNode => Storage): Unit = {
    require(kind != "file" && kind != "literal", s"storage kind '$kind' is built-in")
    storageCodecs.put(kind, (enc, dec))
  }

  /** The single storage-codec dispatch both [[canEncode]] and
    * [[encodeStorage]] share — built-ins, then the registry — so the two
    * can never drift apart. */
  private def customCodecFor(s: Storage): Option[(String, (PartialFunction[Storage, JsonNode], JsonNode => Storage))] =
    storageCodecs.find(_._2._1.isDefinedAt(s))

  private def isBuiltin(s: Storage): Boolean = s match {
    case _: FileStorage | _: LiteralStorage => true
    case _ => false
  }

  /** True iff every artifact's storage in the model has a codec. */
  def canEncode(m: GraphModel): Boolean =
    m.artifacts.forall { case (_, a) => isBuiltin(a.storage) || customCodecFor(a.storage).isDefined }

  private def encodeStorage(s: Storage): JsonNode = s match {
    case FileStorage(t) => obj(
      "kind" -> str("file"),
      "template" -> str(t.template),
      "field_kinds" -> strMap(t.fieldKinds))
    case LiteralStorage(json) => obj("kind" -> str("literal"), "json" -> str(json))
    case other =>
      customCodecFor(other).map { case (kind, (enc, _)) =>
        obj("kind" -> str(kind), "payload" -> enc(other))
      }.getOrElse(throw new UnsupportedStorage(
        s"storage ${other.getClass.getName} has no model codec — register one via " +
          "ModelCodec.registerStorage to make it backend-persistable"))
  }

  private def decodeStorage(j: JsonNode): Storage = j("kind").str match {
    case "file" => FileStorage(PathTemplate(j("template").str, j("field_kinds").strMap))
    case "literal" => LiteralStorage(j("json").str)
    case other =>
      storageCodecs.get(other).map(_._2(j("payload")))
        .getOrElse(throw new IllegalArgumentException(s"unknown storage kind '$other'"))
  }

  private def formatOf(name: String): Format =
    Seq(Format.Json, Format.Parquet, Format.Csv, Format.Text, Format.Binary, Format.Orc)
      .find(_.name == name)
      .orElse(graft.io.IO.registeredFormat(name)) // F23 extension formats
      .getOrElse(throw new IllegalArgumentException(s"unknown format '$name'"))
}
