package graft.catalog

import java.io.{FileInputStream, InputStream}
import java.{util => ju}
import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor

/** One declarative ingestion unit from the YAML catalog.
  *
  * Mirrors the reference's pydantic `Source` model
  * (metadata_ingestion/src/ingestion_framework/metadata.py:5-13) including its
  * defaulting behavior: `enabled=true`, `rawPartitions=["ingest_date"]`,
  * `hubPrimaryKeys=Nil`.
  */
final case class Source(
    id: String,
    enabled: Boolean = true,
    `type`: String = "",
    domain: String = "",
    entity: String = "",
    options: Map[String, String] = Map.empty,
    rawPartitions: Seq[String] = Seq("ingest_date"),
    hubPrimaryKeys: Seq[String] = Nil,
    /** Engine extension (not in the reference's model): a keyed HUB's hash
      * bucket count, so merges rewrite only touched buckets
      * (`VersionedHub.writeBucketed`). None = `Ingest.DefaultHubBuckets`.
      */
    hubBuckets: Option[Int] = None,
    /** The declarative form of the reference's commented-out `keep_cols`
      * scaffold (transform.py:6-8: "drop RAW-only audit columns if
      * desired"): when non-empty, the HUB table keeps ONLY these columns.
      * Empty = identity (the reference's committed behavior).
      */
    hubKeepCols: Seq[String] = Nil,
    /** Engine extension: exactly two column names → after each HUB commit,
      * rewrite the snapshot along their Morton curve as a further committed
      * version (`VersionedHub.optimizeZOrder`), so parquet zone maps prune
      * point predicates on EITHER column. Only valid for keyless versioned
      * hubs (append-style event tables — the tables read-heavy enough to
      * pay a layout pass); keyed hubs are bucketed, where per-bucket
      * compaction applies instead.
      */
    hubZorder: Seq[String] = Nil
)

/** The whole catalog: version + defaults + sources
  * (reference metadata.py:15-18; defaults carry raw_base/hub_base/
  * checkpoint_base/domain, sources.yaml:2-6).
  */
final case class SourceSystem(
    version: Int,
    defaults: Map[String, String],
    sources: Seq[Source]
)

/** Loads and validates the YAML catalog (reference metadata.py:20-23:
  * `yaml.safe_load` + pydantic validation). Implemented on snakeyaml
  * (vendored in /opt/spark/jars) with explicit field mapping so defaulting
  * matches the reference exactly.
  */
object YamlCatalog {

  /** scalars/maps/lists only — the JVM analogue of the reference's
    * `yaml.safe_load` (metadata.py:21); YAML tags that would instantiate
    * arbitrary classes are rejected.
    */
  private def safeYaml = new Yaml(new SafeConstructor(new LoaderOptions()))

  def load(path: String): SourceSystem = {
    val in = new FileInputStream(path)
    try load(in)
    finally in.close()
  }

  def load(in: InputStream): SourceSystem = {
    val root = safeYaml.load[ju.Map[String, AnyRef]](in)
    if (root == null) throw new IllegalArgumentException("empty catalog YAML")
    fromJava(root.asScala.toMap)
  }

  def loadString(yaml: String): SourceSystem = {
    val root = safeYaml.load[ju.Map[String, AnyRef]](yaml)
    if (root == null) throw new IllegalArgumentException("empty catalog YAML")
    fromJava(root.asScala.toMap)
  }

  private def fromJava(root: Map[String, AnyRef]): SourceSystem = {
    val version = root.get("version").map(_.toString.toInt).getOrElse(1)
    val defaults = toStringMap(root.getOrElse("defaults", null))
    val sources = root.getOrElse("sources", null) match {
      case l: ju.List[_] => l.asScala.toSeq.map(s => parseSource(asMap(s)))
      case null          => Nil
      case other =>
        throw new IllegalArgumentException(s"sources must be a list, got $other")
    }
    // duplicate ids break per-source addressing (Transform.register,
    // _source_id lineage)
    val dupIds = sources.groupBy(_.id).collect { case (id, ss) if ss.size > 1 => id }
    if (dupIds.nonEmpty)
      throw new IllegalArgumentException(
        s"duplicate source ids in catalog: ${dupIds.mkString(", ")}")
    // RAW/HUB paths derive from (domain, entity) — two enabled sources
    // sharing them would append to one RAW table and merge two sources'
    // rows into one hub
    val dupPaths = sources.filter(_.enabled)
      .groupBy(s => (s.domain, s.entity))
      .collect { case (de, ss) if ss.size > 1 => s"$de ← ${ss.map(_.id).mkString("/")}" }
    if (dupPaths.nonEmpty)
      throw new IllegalArgumentException(
        s"multiple enabled sources target the same (domain, entity) path: ${dupPaths.mkString("; ")}")
    defaults.get("hub_layout").foreach(checkHubLayout("defaults", _))
    SourceSystem(version, defaults, sources)
  }

  /** `hub_layout` predates the single hub engine: only `versioned`, a
    * no-op, is accepted.
    */
  private def checkHubLayout(where: String, layout: String): Unit =
    require(layout == "versioned",
      s"$where: hub_layout '$layout' is not supported — hubs are versioned only")

  private def parseSource(m: Map[String, AnyRef]): Source = {
    def str(k: String, dflt: String = ""): String =
      m.get(k).filter(_ != null).map(_.toString).getOrElse(dflt)
    val id = m.get("id").filter(_ != null).map(_.toString).getOrElse {
      throw new IllegalArgumentException(s"source missing required field 'id': $m")
    }
    m.get("hub_layout").filter(_ != null)
      .foreach(l => checkHubLayout(s"source '$id'", l.toString))
    val keys = toStringSeq(m.get("hub_primary_keys"), Nil)
    val buckets = m.get("hub_buckets").filter(_ != null).map { b =>
      require(keys.nonEmpty, s"source '$id': hub_buckets needs " +
        "hub_primary_keys — only keyed hubs are bucketed")
      b.toString.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"source '$id': hub_buckets must be a positive integer, got '$b'"))
    }
    val zorder = toStringSeq(m.get("hub_zorder"), Nil)
    require(zorder.isEmpty || zorder.size == 2,
      s"source '$id': hub_zorder needs exactly 2 columns (Morton curve is " +
        s"2-D), got ${zorder.size}")
    require(zorder.isEmpty || keys.isEmpty,
      s"source '$id': hub_zorder applies only to keyless hubs — keyed hubs " +
        "are bucketed; compact per bucket instead")
    Source(
      id = id,
      enabled = m.get("enabled").filter(_ != null).forall(_.toString.toBoolean),
      `type` = str("type"),
      domain = str("domain"),
      entity = str("entity"),
      options = toStringMap(m.getOrElse("options", null)),
      rawPartitions = toStringSeq(m.get("raw_partitions"), Seq("ingest_date")),
      hubPrimaryKeys = keys,
      hubBuckets = buckets,
      hubKeepCols = toStringSeq(m.get("hub_keep_cols"), Nil),
      hubZorder = zorder
    )
  }

  private def asMap(o: Any): Map[String, AnyRef] = o match {
    case m: ju.Map[_, _] =>
      m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[AnyRef] }.toMap
    case other => throw new IllegalArgumentException(s"expected mapping, got $other")
  }

  private def toStringMap(o: AnyRef): Map[String, String] = o match {
    case null => Map.empty
    case m: ju.Map[_, _] =>
      m.asScala.collect { case (k, v) if v != null => k.toString -> v.toString }.toMap
    case other => throw new IllegalArgumentException(s"expected mapping, got $other")
  }

  private def toStringSeq(o: Option[AnyRef], dflt: Seq[String]): Seq[String] =
    o match {
      case None | Some(null) => dflt
      case Some(l: ju.List[_]) => l.asScala.toSeq.map(_.toString)
      case Some(other) =>
        throw new IllegalArgumentException(s"expected list, got $other")
    }
}
