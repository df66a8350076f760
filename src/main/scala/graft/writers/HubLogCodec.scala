package graft.writers

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactoryBuilder, SerializableString}
import com.fasterxml.jackson.core.io.CharacterEscapes
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** The one codec of the hub log: a version's manifest
  * (`_log/<v>.json`) and the JSON form of a stats checkpoint
  * (`_log/<v>.checkpoint.json`), through Jackson's tree model.
  *
  * Output is printable ASCII: every character outside 0x20–0x7E is a
  * `\uXXXX` escape (control characters, DEL, everything non-ASCII, and
  * each half of a surrogate pair), so no YAML or JSON reader can refuse a
  * character a value happens to hold. Map keys are written sorted, so a
  * checkpoint's bytes are a function of its content.
  *
  * Manifest fields, in write order: `version`, `ts`, `rows`, `batchId`?,
  * `groups` (file group → its dirs), then on a bucketed table `nBuckets`,
  * `bucketCols`? and `bucketRows`?, then `schema`?, `statsDelta` (always
  * present — its absence marks a legacy manifest), `dvDelta`? and
  * `checks`?. Manifests written before the group model carry a flat
  * `dataDir` or a bucketed `buckets` map instead of `groups`, and a full
  * `fileStats` map instead of `statsDelta`; both still decode. A stats
  * map is `{path: {rows, bytes, cols: {col: {mn?, mx?, nc?}}}}` with
  * min/max tagged by [[FileStats.encodeScalar]]; a DV map is
  * `{path: [row index, ...]}`.
  */
private[graft] object HubLogCodec {

  /** The standard JSON escapes plus DEL; [[JsonWriteFeature.ESCAPE_NON_ASCII]]
    * covers everything above it.
    */
  private object PrintableAscii extends CharacterEscapes {
    private val codes = CharacterEscapes.standardAsciiEscapesForJSON()
    codes(0x7F) = CharacterEscapes.ESCAPE_STANDARD
    override def getEscapeCodesForAscii: Array[Int] = codes
    override def getEscapeSequence(ch: Int): SerializableString = null
  }

  private val mapper = JsonMapper.builder(
      new JsonFactoryBuilder()
        .enable(JsonWriteFeature.ESCAPE_NON_ASCII)
        .characterEscapes(PrintableAscii)
        .build())
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  def encodeManifest(v: VersionedHub.Version): Array[Byte] = {
    val o = mapper.createObjectNode()
      .put("version", v.version).put("ts", v.ts).put("rows", v.rows)
    v.batchId.foreach(o.put("batchId", _))
    val groups = o.putObject("groups")
    for ((g, ds) <- v.groups.toSeq.sortBy(_._1))
      addAll(groups.putArray(g.toString), ds)
    for (n <- v.nBuckets) {
      o.put("nBuckets", n)
      v.bucketCols.foreach(addAll(o.putArray("bucketCols"), _))
      if (v.bucketRows.nonEmpty) {
        val br = o.putObject("bucketRows")
        for ((b, r) <- v.bucketRows.toSeq.sortBy(_._1)) br.put(b.toString, r)
      }
    }
    v.schemaJson.foreach(o.put("schema", _))
    // ALWAYS present, even empty: a zero-new-file commit (ALTER TABLE, a
    // delete dropping whole buckets) that omitted it would read back as
    // legacy, with NO carried stats — skipping and `t$files` blind there
    putStats(o.putObject("statsDelta"), v.statsNew)
    // absent = no DV changed (DVs never had a full-map encoding)
    if (v.dvNew.nonEmpty) putDvs(o.putObject("dvDelta"), v.dvNew)
    if (v.checks.nonEmpty) {
      val c = o.putObject("checks")
      for ((name, sql) <- v.checks.toSeq.sortBy(_._1)) c.put(name, sql)
    }
    mapper.writeValueAsBytes(o)
  }

  /** The version `bytes` hold, with empty carried thunks (the reader
    * wires its own fold in). None when they are not a JSON object with a
    * `version`: a claim whose content never landed, or a torn write. A
    * well-formed object with a malformed field throws.
    */
  def decodeManifest(bytes: Array[Byte]): Option[VersionedHub.Version] =
    parseObject(bytes).filter(_.has("version")).map { m =>
      val groups: Map[Int, Seq[String]] =
        if (m.has("groups")) fields(m.get("groups"))
          .map { case (g, ds) => g.toInt -> strings(ds) }.toMap
        // manifests before the group model: bucket → its one dir ...
        else if (m.has("buckets")) fields(m.get("buckets"))
          .map { case (b, d) => b.toInt -> Seq(d.asText) }.toMap
        // ... or a flat table's one snapshot dir
        else Map(VersionedHub.FlatGroup -> Seq(required(m, "dataDir").asText))
      val delta = Option(m.get("statsDelta"))
      VersionedHub.Version(
        version = long(required(m, "version")).toInt,
        ts = long(required(m, "ts")),
        rows = long(required(m, "rows")),
        batchId = Option(m.get("batchId")).map(long),
        nBuckets = Option(m.get("nBuckets")).map(long(_).toInt),
        groups = groups,
        bucketCols = Option(m.get("bucketCols")).map(strings),
        bucketRows = Option(m.get("bucketRows")).toSeq.flatMap(fields)
          .map { case (b, r) => b.toInt -> long(r) }.toMap,
        schemaJson = Option(m.get("schema")).map(_.asText),
        // a legacy manifest's full `fileStats` map stands in for the delta
        statsNew = delta.orElse(Option(m.get("fileStats")))
          .fold(Map.empty[String, FileStats.FileStat])(stats),
        dvNew = Option(m.get("dvDelta")).fold(Map.empty[String, Seq[Long]])(dvs),
        checks = Option(m.get("checks")).toSeq.flatMap(fields)
          .map { case (n, sql) => n -> sql.asText }.toMap,
        legacyStats = delta.isEmpty)
    }

  def encodeCheckpoint(version: Int, stats: Map[String, FileStats.FileStat],
      dvMap: Map[String, Seq[Long]]): Array[Byte] = {
    val o = mapper.createObjectNode().put("version", version)
    putStats(o.putObject("fileStats"), stats)
    putDvs(o.putObject("dvs"), dvMap)
    mapper.writeValueAsBytes(o)
  }

  /** The checkpoint's full (stats, dvs) maps, or None when `bytes` do not
    * decode (readers then fold a longer delta chain). Checkpoints written
    * before deletion vectors have no `dvs` and decode with none.
    */
  def decodeCheckpoint(bytes: Array[Byte])
      : Option[(Map[String, FileStats.FileStat], Map[String, Seq[Long]])] =
    try parseObject(bytes).flatMap(o => Option(o.get("fileStats")).map(s =>
      (stats(s), Option(o.get("dvs")).fold(Map.empty[String, Seq[Long]])(dvs))))
    catch { case scala.util.control.NonFatal(_) => None }

  private def parseObject(bytes: Array[Byte]): Option[ObjectNode] =
    try mapper.readTree(bytes) match {
      case o: ObjectNode => Some(o)
      case _ => None
    } catch { case _: java.io.IOException => None }

  private def putStats(o: ObjectNode,
      stats: Map[String, FileStats.FileStat]): Unit =
    for ((p, f) <- stats.toSeq.sortBy(_._1)) {
      val e = o.putObject(p).put("rows", f.rows).put("bytes", f.bytes)
      val cols = e.putObject("cols")
      for ((c, s) <- f.cols.toSeq.sortBy(_._1)) {
        val cs = cols.putObject(c)
        s.min.foreach(x => cs.put("mn", FileStats.encodeScalar(x)))
        s.max.foreach(x => cs.put("mx", FileStats.encodeScalar(x)))
        s.nullCount.foreach(cs.put("nc", _))
      }
    }

  private def putDvs(o: ObjectNode, dvMap: Map[String, Seq[Long]]): Unit =
    for ((p, ps) <- dvMap.toSeq.sortBy(_._1)) {
      val a = o.putArray(p)
      ps.foreach(a.add(_: Long))
    }

  private def stats(n: JsonNode): Map[String, FileStats.FileStat] =
    fields(n).map { case (p, e) =>
      val cols = Option(e.get("cols")).toSeq.flatMap(fields).map { case (c, s) =>
        c -> FileStats.ColStat(
          Option(s.get("mn")).flatMap(x => FileStats.decodeScalar(x.asText)),
          Option(s.get("mx")).flatMap(x => FileStats.decodeScalar(x.asText)),
          Option(s.get("nc")).map(long))
      }.toMap
      p -> FileStats.FileStat(long(required(e, "rows")),
        long(required(e, "bytes")), cols)
    }.toMap

  private def dvs(n: JsonNode): Map[String, Seq[Long]] =
    fields(n).map { case (p, ps) =>
      p -> ps.iterator.asScala.map(long).toIndexedSeq
    }.toMap

  private def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties.asScala.map(e => e.getKey -> e.getValue).toSeq

  private def strings(n: JsonNode): Seq[String] =
    n.iterator.asScala.map(_.asText).toSeq

  private def addAll(a: ArrayNode, xs: Seq[String]): Unit =
    xs.foreach(a.add(_: String))

  /** A number written as a JSON number or, by hand, as a string. */
  private def long(n: JsonNode): Long = n.asText.toLong

  private def required(o: JsonNode, field: String): JsonNode =
    Option(o.get(field)).getOrElse(throw new IllegalArgumentException(
      s"hub log record has no '$field'"))
}
