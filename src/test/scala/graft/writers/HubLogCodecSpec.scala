package graft.writers

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** [[HubLogCodec]] round-trips every manifest and checkpoint field, writes
  * printable ASCII only, and keeps decoding the shapes earlier writers
  * left in hub logs.
  */
class HubLogCodecSpec extends AnyFunSuite {
  import FileStats.{ColStat, FileStat}

  /** Strings that are hard to carry: quote, backslash, control
    * characters, DEL, C1, a noncharacter and a non-BMP character.
    */
  private val hard = "q\"b\\s\u0001\n\t\u001f\u007f\u0080\uFFFE\uD83D\uDE00"

  private def stats(n: Int): Map[String, FileStat] = (0 until n).map { i =>
    f"data/$i%d-0123abcd/_bucket=${i % 8}/part-$i%05d-feedbeef.c000.snappy.parquet" ->
      FileStat(1000L + i, 4096L + i, Map(
        "k" -> ColStat(Some(i.toLong), Some(i + 1000L), Some(0L)),
        "v" -> ColStat(Some(s"aaaa$i"), Some(s"zzzz$i"), None)))
  }.toMap

  /** Scalars compared by their tagged encoding: NaN equals itself and
    * -0.0 differs from 0.0 there, unlike `==`.
    */
  private def norm(m: Map[String, FileStat]) = m.map { case (p, f) =>
    p -> ((f.rows, f.bytes, f.cols.map { case (c, s) =>
      c -> ((s.min.map(FileStats.encodeScalar), s.max.map(FileStats.encodeScalar),
        s.nullCount))
    }))
  }

  private def assertPrintable(bytes: Array[Byte]): Unit = {
    val bad = bytes.indexWhere(b => b < 0x20 || b > 0x7E)
    if (bad >= 0) fail(s"byte ${bytes(bad) & 0xFF} at $bad is not printable ASCII")
  }

  private def roundTrip(v: VersionedHub.Version): VersionedHub.Version = {
    val bytes = HubLogCodec.encodeManifest(v)
    assertPrintable(bytes)
    val d = HubLogCodec.decodeManifest(bytes).get
    assert((d.version, d.ts, d.rows, d.batchId, d.nBuckets, d.groups,
      d.bucketCols, d.bucketRows, d.schemaJson, d.dvNew, d.checks) ==
      ((v.version, v.ts, v.rows, v.batchId, v.nBuckets, v.groups,
        v.bucketCols, v.bucketRows, v.schemaJson, v.dvNew, v.checks)))
    assert(norm(d.statsNew) == norm(v.statsNew))
    assert(!d.legacyStats)
    d
  }

  test("a manifest round-trips every field and is printable ASCII") {
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("naïve \"col\\\"", StringType), StructField("ключ", StringType)))
    val scalars = Map(
      "l" -> ColStat(Some(Long.MinValue), Some(Long.MaxValue), Some(3L)),
      "d" -> ColStat(Some(-0.0d), Some(Double.NaN), None),
      "e" -> ColStat(Some(Double.NegativeInfinity), Some(0.0d), Some(0L)),
      "s" -> ColStat(Some(hard), Some(hard + "z"), Some(1L)),
      "b" -> ColStat(Some(false), Some(true), None),
      "none" -> ColStat(None, None, None),
      hard -> ColStat(Some(""), None, Some(0L)))
    val v = VersionedHub.Version(42, 1792406144564L, 123L,
      batchId = Some(9876543210L),
      nBuckets = Some(4),
      groups = Map(0 -> Seq("data/1-aa/_bucket=0", "data/5-bb/_bucket=0"),
        1 -> Seq("data/1-aa/_bucket=1"), 3 -> Seq(s"data/7-$hard/_bucket=3")),
      bucketCols = Some(Seq("k", "naïve \"col\\\"")),
      bucketRows = Map(0 -> 5L, 1 -> 0L, 3 -> 118L),
      schemaJson = Some(schema.json),
      statsNew = Map("data/5-bb/_bucket=0/f.parquet" -> FileStat(7L, 900L, scalars),
        s"data/7-$hard/_bucket=3/g.parquet" -> FileStat(0L, 0L, Map.empty)),
      dvNew = Map("data/1-aa/_bucket=1/h.parquet" -> Seq(0L, 5L, Long.MaxValue),
        s"data/7-$hard/_bucket=3/g.parquet" -> Seq.empty),
      checks = Map("q" -> "v <> 'a\"b\\c'\n\tAND k > 0", hard -> "k IS NOT NULL"))
    val d = roundTrip(v)
    assert(d.schema.get.fieldNames.toSeq == schema.fieldNames.toSeq)
    // a flat version with no bucket fields, no DVs, no checks
    val flat = roundTrip(VersionedHub.Version(1, 0L, 0L,
      groups = Map(VersionedHub.FlatGroup -> Seq("data/1-aa", "data/2-bb")),
      checks = Map.empty))
    assert(flat.nBuckets.isEmpty && flat.bucketCols.isEmpty)
  }

  test("the earlier YAML reader parses what the codec writes") {
    val v = VersionedHub.Version(3, 1L, 2L, groups = Map(0 -> Seq("data/3-x")),
      statsNew = Map("data/3-x/f.parquet" -> FileStat(2L, 10L,
        Map("v" -> ColStat(Some(hard), Some(hard + "~"), Some(0L))))),
      checks = Map.empty)
    val text = new String(HubLogCodec.encodeManifest(v), "US-ASCII")
    val m = new org.yaml.snakeyaml.Yaml(
      new org.yaml.snakeyaml.constructor.SafeConstructor(
        new org.yaml.snakeyaml.LoaderOptions()))
      .load[java.util.Map[String, AnyRef]](text)
    assert(m.get("version").toString == "3")
    val cols = m.get("statsDelta").asInstanceOf[java.util.Map[String, AnyRef]]
      .get("data/3-x/f.parquet").asInstanceOf[java.util.Map[String, AnyRef]]
      .get("cols").asInstanceOf[java.util.Map[String, AnyRef]]
      .get("v").asInstanceOf[java.util.Map[String, AnyRef]]
    assert(cols.get("mn") == "S:" + hard && cols.get("mx") == "S:" + hard + "~")
  }

  test("an empty statsDelta is written; its absence marks a legacy manifest") {
    val v = VersionedHub.Version(2, 1L, 0L, groups = Map(0 -> Seq.empty),
      checks = Map.empty)
    val bytes = HubLogCodec.encodeManifest(v)
    assert(new String(bytes, "US-ASCII").contains("\"statsDelta\":{}"))
    assert(!HubLogCodec.decodeManifest(bytes).get.legacyStats)
    val absent = """{"version": 2, "ts": 1, "rows": 0, "groups": {"0": []}}"""
    val d = HubLogCodec.decodeManifest(absent.getBytes("UTF-8")).get
    assert(d.legacyStats && d.statsNew.isEmpty && d.groups == Map(0 -> Seq.empty))
  }

  test("legacy manifest shapes decode") {
    def dec(s: String) = HubLogCodec.decodeManifest(s.getBytes("UTF-8")).get
    val flat = dec("""{"version": 1, "dataDir": "data/1-aa", "ts": 5, "rows": 4,
      | "fileStats": {"data/1-aa/f.parquet": {"rows": 4, "bytes": 12,
      | "cols": {"k": {"mn": "L:1", "mx": "L:4", "nc": 0}}}}}""".stripMargin)
    assert(flat.groups == Map(VersionedHub.FlatGroup -> Seq("data/1-aa")))
    assert(flat.legacyStats && flat.statsNew("data/1-aa/f.parquet").cols("k") ==
      ColStat(Some(1L), Some(4L), Some(0L)))
    // a bucketed manifest keeps `dataDir` beside `buckets`; the map wins
    val bucketed = dec("""{"version": 2, "dataDir": "data/2-bb", "ts": 6,
      | "rows": 3, "nBuckets": 2, "buckets": {"0": "data/2-bb/_bucket=0",
      | "1": "data/1-aa/_bucket=1"}, "bucketCols": ["k"],
      | "bucketRows": {"0": 1, "1": 2}, "statsDelta": {}}""".stripMargin)
    assert(bucketed.groups == Map(0 -> Seq("data/2-bb/_bucket=0"),
      1 -> Seq("data/1-aa/_bucket=1")))
    assert(bucketed.bucketRows == Map(0 -> 1L, 1 -> 2L) &&
      bucketed.bucketCols.contains(Seq("k")) && bucketed.nBuckets.contains(2))
    val noStats = dec("""{"version": 2, "dataDir": "data/2-bb", "ts": 6,
      | "rows": 3, "nBuckets": 2, "buckets": {"0": "data/2-bb/_bucket=0"}}"""
      .stripMargin)
    assert(noStats.bucketRows.isEmpty && noStats.legacyStats &&
      noStats.statsNew.isEmpty)
  }

  test("only a JSON object with a version is a manifest; a broken field throws") {
    for (s <- Seq("", "{", """{"version": 1, "ts""", "[]", "null",
        """{"ts": 1, "rows": 0}""", """{"version": 1} trailing"""))
      assert(HubLogCodec.decodeManifest(s.getBytes("UTF-8")).isEmpty, s)
    intercept[IllegalArgumentException](HubLogCodec.decodeManifest(
      """{"version": 1, "rows": 0, "groups": {}}""".getBytes("UTF-8")))
  }

  test("checkpoints round-trip deterministically; undecodable ones are None") {
    val st = stats(50) ++ Map(s"data/9-$hard/x.parquet" -> FileStat(1L, 2L,
      Map(hard -> ColStat(Some(hard), Some(Double.NaN), Some(0L)))))
    val dv = Map("data/1-0123abcd/_bucket=1/part-00001-feedbeef.c000.snappy.parquet" ->
      Seq(1L, 2L, 99L))
    val bytes = HubLogCodec.encodeCheckpoint(20, st, dv)
    assertPrintable(bytes)
    // same content built in another order: same bytes
    assert(HubLogCodec.encodeCheckpoint(20, st.toSeq.reverse.toMap, dv)
      .sameElements(bytes))
    val (s2, d2) = HubLogCodec.decodeCheckpoint(bytes).get
    assert(norm(s2) == norm(st) && d2 == dv)
    // checkpoints written before deletion vectors carry no `dvs`
    val preDv = """{"version": 10, "fileStats": {"a/f.parquet":
      | {"rows": 1, "bytes": 2, "cols": {}}}}""".stripMargin
    assert(HubLogCodec.decodeCheckpoint(preDv.getBytes("UTF-8")).get ==
      ((Map("a/f.parquet" -> FileStat(1L, 2L, Map.empty)), Map.empty)))
    for (s <- Seq("", """{"version": 10}""", """{"version": 10, "fileStats": {"a": {}}}"""))
      assert(HubLogCodec.decodeCheckpoint(s.getBytes("UTF-8")).isEmpty, s)
  }

  test("a manifest past 3 MB (25k stat entries) round-trips") {
    val st = stats(25000)
    val v = VersionedHub.Version(1, 1L, st.valuesIterator.map(_.rows).sum,
      nBuckets = Some(8), groups = (0 until 8).map(b =>
        b -> Seq(s"data/1-0123abcd/_bucket=$b")).toMap,
      bucketCols = Some(Seq("k")), statsNew = st, checks = Map.empty)
    val bytes = HubLogCodec.encodeManifest(v)
    assert(bytes.length > 3 * 1024 * 1024, s"${bytes.length} bytes")
    roundTrip(v)
  }
}
