package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a graft SparkSession is built, and the owner of the
  * reuse caches that live as long as it does.
  *
  * Every entry point (the ingestion CLI, Bench, Verify, Plans, PlanDump)
  * and the shared test session build through [[build]], so they all run
  * with the same settings: UTC session time, nanosecond parquet
  * timestamps read as longs, no TIMESTAMP_NTZ inference, the
  * [[GraftExtensions]] functions and parser, AQE on, the UI off, and
  * shuffle partitions = cores.
  */
object GraftSession {

  /** Cores for the local master and the shuffle partition count:
    * `SPARK_GRAFT_CPUS`, otherwise every core the JVM sees. */
  val DefaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private val AppName = "graft"
  private val LogLevel = "WARN"

  /** The master defaults to `SPARK_MASTER`, otherwise a local master with
    * [[DefaultCores]]; the shared test session passes its own. */
  def build(master: String =
        sys.env.getOrElse("SPARK_MASTER", s"local[$DefaultCores]"),
      cores: Int = DefaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(AppName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(LogLevel)
    spark
  }

  /** Materialization for intermediates the pair pipelines REUSE across plan
    * branches or CC rounds (postings, edge lists, label tables). Strategy is
    * selectable via `spark.graft.materialize`:
    *
    *   - `local-checkpoint` (default when the master is local): lazy
    *     `localCheckpoint` — blocks pinned on executor-local storage,
    *     lineage truncated. Fastest, but NOT fault-tolerant: one lost
    *     executor fails the job instead of recomputing. The right call in a
    *     single-JVM run, where "executor loss" means the whole app died.
    *   - `persist-disk` (default on a real cluster): `persist(DISK_ONLY)` —
    *     lineage kept, so a lost executor's blocks recompute; the plan tree
    *     grows per CC round, which is acceptable for O(log d) rounds.
    *   - `none`: no materialization (recompute per consumer) — for
    *     streaming-input plans where checkpoint/persist are unusable.
    *
    * Always LAZY (`localCheckpoint(eager = false)`): building or explaining
    * a query must not execute the full shingle scan at construction time.
    */
  private[graft] def materialize(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val default =
      if (sess.sparkContext.isLocal) "local-checkpoint" else "persist-disk"
    sess.conf.get("spark.graft.materialize", default) match {
      case "local-checkpoint" => df.localCheckpoint(eager = false)
      case "persist-disk" =>
        df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      case "none" => df
      case other => throw new IllegalArgumentException(
        "spark.graft.materialize must be local-checkpoint, persist-disk " +
          s"or none, got '$other'")
    }
  }

  /** Reuse seam for EXCHANGE-BEARING intermediates consumed more than once.
    * [[materialize]]'s local-checkpoint mode is the wrong tool for these:
    * under AQE, extracting the checkpoint RDD of a plan that contains an
    * exchange finalizes its shuffle stages — running jobs at DataFrame
    * CONSTRUCTION time, which breaks the lazy-build contract (and the spec
    * gate) that merely building/explaining a query must not execute it.
    * Plain persist is lazy unconditionally and still deduplicates the
    * upstream work across consumers at first action.
    */
  private[graft] def persistForReuse(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.materialize", "") match {
      case "none" => df
      case _ =>
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        reuseCaches.add(p)
        p
    }

  /** Every live [[persistForReuse]] cache, so a session that runs many
    * queries has an owner that can release them: most reuse caches are
    * consumed entirely inside one query's execution but can only be
    * unpersisted by whoever knows the query finished (the returned
    * DataFrame is lazy — the operator that persisted cannot). Harnesses
    * (Bench/Verify, long-lived services) call [[releaseReuseCaches]]
    * between queries; leaving it uncalled merely restores the old
    * grow-until-session-end behavior.
    */
  private val reuseCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Unpersist (non-blocking) every cache [[persistForReuse]] has created
    * since the last sweep. Safe while queries run — unpersist on a cache
    * mid-consumption recomputes, never corrupts — but intended between
    * queries.
    */
  def releaseReuseCaches(): Unit = {
    var df = reuseCaches.poll()
    while (df != null) {
      scala.util.Try(df.unpersist(blocking = false))
      df = reuseCaches.poll()
    }
  }

  /** Fan a NARROW input out to the cluster parallelism before a CPU-heavy
    * per-row stage (shingle+md5 explode, codec decode). Parquet splits are
    * row-group aligned, so a file written as one row group caps scan
    * parallelism at ONE TASK no matter what maxPartitionBytes says — and
    * every codegen'd stage fused onto that scan inherits the cap. The
    * round-robin shuffle here costs one pass over the (small, by
    * hypothesis) input and buys back the full cluster for the expensive
    * stage above it. A no-op whenever the input already carries at least
    * half the default parallelism — at real scale (many files / row
    * groups) that is always true and no shuffle is added.
    */
  private[graft] def fanOutNarrow(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }
}
