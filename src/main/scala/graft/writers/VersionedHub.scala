package graft.writers

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor

/** HUB variant with a transaction log: versioned snapshots, optimistic
  * concurrent writers, and time-travel reads — the plain-Spark analogue of
  * the Delta Lake commit protocol the reference leans on
  * (metadata_ingestion/src/ingestion_framework/writer.py:18-36 delegates
  * ACID + time travel to Delta; design per Armbrust et al., "Delta Lake:
  * High-Performance ACID Table Storage over Cloud Object Stores",
  * VLDB 2020).
  *
  * Layout:
  * {{{
  *   <path>/_log/00000001.json       // one manifest per committed version
  *   <path>/data/<version>-<uuid>/   // the data dir one commit wrote
  * }}}
  *
  * A version maps each FILE GROUP to the list of data dirs it reads. A
  * flat table is the one group [[FlatGroup]] with no routing; a bucketed
  * table has one group per hash bucket (`_bucket=N` dirs under a commit's
  * root). A keyless append stages only its batch and adds that dir to the
  * flat group, a DELETE of few rows records deletion vectors, a RESTORE
  * re-references the target's dirs, and an ALTER re-references the base's:
  * none of them copies the table. Merges, UPDATE and compaction rewrite
  * the groups they touch into one dir each; untouched groups (and every
  * dir a version still names) are shared structurally across versions.
  *
  * Commit protocol (optimistic concurrency, mirroring Delta's "mutual
  * exclusion on log record creation"), run by ONE loop, [[commitLoop]],
  * for every writer (merge, overwrite, DELETE/UPDATE, restore, ALTER,
  * compaction):
  *
  *   1. read the latest committed version V (scan `_log`);
  *   2. recompute the operation against snapshot V — e.g. merge-upsert the
  *      batch ([[HubWriter]]'s merge kernel: last-writer-wins on the keys +
  *      schema widening), picking the layout from V itself;
  *   3. write the batch (keyless append) or the rewritten file groups to
  *      a fresh uniquely-named data dir — manifest-only commits skip this;
  *   4. COMMIT by creating `_log/{V+1}.json` with create-exclusive
  *      (`FileSystem.create(overwrite = false)` — atomic on HDFS and on
  *      the local FS): exactly ONE writer wins version V+1;
  *   5. a loser deletes its orphan data dir and RETRIES from step 1, so its
  *      batch re-merges against the winner's snapshot — no lost updates.
  *
  * Readers are never blocked and always see a complete snapshot: a manifest
  * only appears after its data dir is fully written (snapshot isolation).
  * Uncommitted/orphan data dirs are invisible (reads go through manifests
  * only) and are swept by [[vacuum]].
  *
  * Scale: a commit writes O(batch) bytes for appends, O(k) manifest bytes
  * for a k-row DV delete and O(touched groups) for merges — the LSM shape
  * (Luo & Carey, VLDB 2019) and Delta's add/remove file log. A flat group
  * gains one dir per append until a rewrite folds it (`num_dirs` in
  * [[detailDF]] shows when [[optimize]] is due); the commit point — one
  * exclusive tiny file create per version — is size-independent.
  */
object VersionedHub {

  private val logger = org.apache.log4j.Logger.getLogger(getClass)
  private val LogDir = "_log"
  private val MaxRetries = 20
  private val BucketCol = HubWriter.BucketCol

  /** The one file group of a flat (unrouted) table. */
  val FlatGroup = 0

  final case class Version(
      version: Int, ts: Long, rows: Long,
      batchId: Option[Long] = None,
      nBuckets: Option[Int] = None,
      // file group → the data dirs it reads (relative to the table root,
      // or fully qualified for a clone's references): [[FlatGroup]] alone
      // on a flat table, one group per bucket on a bucketed one
      groups: Map[Int, Seq[String]] = Map.empty,
      bucketCols: Option[Seq[String]] = None,
      // live rows per bucket (bucketed only: the flat group's are `rows`)
      bucketRows: Map[Int, Long] = Map.empty,
      schemaJson: Option[String] = None,
      statsNew: Map[String, FileStats.FileStat] = Map.empty,
      statsCarried: () => Map[String, FileStats.FileStat] = Version.NoCarried,
      dvNew: Map[String, Seq[Long]] = Map.empty,
      dvCarried: () => Map[String, Seq[Long]] = Version.NoDvCarried,
      // CHECK constraints (name → predicate SQL) in force at this
      // version. NO default on purpose: every commit site must decide
      // explicitly what it carries — a forgotten pass-through would
      // silently drop the table's constraints.
      checks: Map[String, String],
      // true iff this manifest predates the incremental `statsDelta`
      // encoding and `statsNew` is actually the FULL snapshot map parsed
      // wholesale — consumers that treat statsNew as "this commit's
      // delta" (streaming byte admission) must not bill the whole table
      // to one version
      legacyStats: Boolean = false) {
    /** The version's full-snapshot schema, when the manifest records one.
      * On a bucketed hub this is the UNION across all bucket dirs — a
      * column that lives only in buckets untouched since a schema
      * evolution is still present here, which is what lets bucket-pruned
      * reads reproduce the full-read schema without touching every dir.
      *
      * Always NULLABLE (like Delta's columns and parquet reads): a
      * `nullable = false` recorded from some writer's DataFrame would make
      * the V1-bridged scan assert non-null on values that later commits
      * (a partial-merge insert, an evolved-column pad) legitimately set
      * to NULL.
      */
    def schema: Option[org.apache.spark.sql.types.StructType] = parsedSchema

    /** Parsed ONCE per Version instance: commit/read paths consult the
      * schema many times per operation (key resolution, identity specs,
      * generated columns, union-widening, the recorded-schema scan), and
      * cached manifest Versions live for the session — re-running
      * `DataType.fromJson` on every call was pure repeated driver work.
      */
    @transient private lazy val parsedSchema
        : Option[org.apache.spark.sql.types.StructType] =
      schemaJson.map(s => Version.nullable(
        org.apache.spark.sql.types.DataType.fromJson(s)
          .asInstanceOf[org.apache.spark.sql.types.StructType]))

    /** Every data dir this snapshot reads, in group order. */
    def dirs: Seq[String] = groups.toSeq.sortBy(_._1).flatMap(_._2)

    /** The bucket → dirs view of a bucketed snapshot; empty when flat. */
    def buckets: Map[Int, Seq[String]] =
      if (nBuckets.isDefined) groups else Map.empty

    /** Live rows per file group, when the manifest records them. */
    private[graft] def groupRows: Map[Int, Long] =
      if (nBuckets.isDefined) bucketRows
      else groups.map { case (g, _) => g -> rows }

    /** The data dir rels (trailing `/`) this snapshot references — the
      * path space its live files inhabit.
      */
    private[writers] def referencedDirRels: Set[String] =
      dirs.map(_ + "/").toSet

    /** FULL-snapshot per-file data-skipping stats, reconstructed LAZILY:
      * the manifest itself carries only this commit's new files
      * (`statsNew` — O(touched files) JSON per commit, the Delta §4.1
      * incremental-log shape); files carried structurally from earlier
      * versions come from `statsCarried` (the base snapshot's map for a
      * writer, the checkpoint + delta-chain fold for a reader), restricted
      * to the dirs THIS snapshot still references. Nothing is read or
      * folded until a planner actually consults the stats, so listing a
      * hub's history stays O(versions), not O(versions × files).
      */
    lazy val fileStats: Map[String, FileStats.FileStat] = {
      val dirs = referencedDirRels
      val carried = statsCarried().filter { case (p, _) =>
        dirs.exists(p.startsWith) }
      carried ++ statsNew
    }

    /** FULL-snapshot positional DELETION VECTORS: file path (same key
      * space as [[fileStats]]) → sorted physical row indices deleted from
      * it (Delta DV / Iceberg positional-delete shape). Reconstructed
      * lazily exactly like [[fileStats]] — manifests carry only the files
      * whose DV CHANGED this commit (`dvNew`, each entry the file's full
      * updated vector — later commits replace, not union), carried files
      * fold from the checkpoint + delta chain, and restriction to the
      * dirs this snapshot still references drops vectors for files a
      * rewrite replaced (the rewrite materialized the deletions). Empty
      * for every hub that never took a DV delete — all read paths take
      * their identity fast path then.
      */
    lazy val dvs: Map[String, Seq[Long]] = {
      val dirs = referencedDirRels
      val carried = dvCarried().filter { case (p, _) =>
        dirs.exists(p.startsWith) }
      (carried ++ dvNew).filter(_._2.nonEmpty)
    }
  }

  object Version {
    private val NoCarried: () => Map[String, FileStats.FileStat] =
      () => Map.empty
    private[VersionedHub] val NoDvCarried: () => Map[String, Seq[Long]] =
      () => Map.empty

    /** Everything-nullable view of a recorded schema (Spark's own
      * `asNullable` is `private[spark]`).
      */
    private def nullableDt(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case s: org.apache.spark.sql.types.StructType => nullable(s)
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = nullableDt(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = nullableDt(m.keyType),
          valueType = nullableDt(m.valueType), valueContainsNull = true)
      case other => other
    }

    private[graft] def nullable(
        s: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(dataType = nullableDt(f.dataType), nullable = true)))
  }

  /** Merge-upsert `df` into the hub at `path` as a new committed version.
    * Returns the committed version number. Safe to call from concurrent
    * writers on the same table: losers of the commit race retry against the
    * winner's snapshot.
    *
    * `batchId` makes the commit IDEMPOTENT per id (Delta's
    * txnAppId/txnVersion pattern): a replayed micro-batch whose id is
    * already in the log returns the existing version without re-merging —
    * exactly-once streaming sinks on top of at-least-once foreachBatch.
    *
    * With no keys the merge degrades to an append, the reference's keyless
    * contract (writer.py:24): only the batch is written, into a fresh dir
    * the flat group gains ([[appendable]]); on a fresh path the first
    * commit is exactly `df`, its overwrite-on-first-load quirk
    * (writer.py:32-35).
    *
    * On a BUCKETED table each attempt runs [[writeBucketed]]'s merge with
    * the table's own bucket count. Keyless writes cannot bucket-route and
    * are refused loudly on a bucketed table. The layout is read from each
    * attempt's base, so a retry follows the table it actually merges into.
    *
    * `deletes` (columns = exactly the merge keys) removes matching target
    * rows in the same atomic commit, BEFORE the upsert — the primitive a
    * MERGE with a DELETE branch lowers to (same contract as
    * [[writeBucketed]]'s `deletes`).
    */
  def write(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      keys: Seq[String],
      batchId: Option[Long] = None,
      deletes: Option[DataFrame] = None,
      // CHECK constraints for a TABLE-CREATING commit (atomic CREATE TABLE
      // ... CHECK); ignored once the table exists (the base's checks rule)
      checks0: Map[String, String] = Map.empty
  ): Int = commitLoop(spark, path, batchId) { committed =>
    committed.lastOption match {
      case Some(v) if v.nBuckets.isDefined =>
        // a keyless write on a bucketed hub may route (and merge) by the
        // RECORDED bucket columns iff a catalog CLUSTERED BY declared them
        // the table's keys (schema-metadata marker) — SQL INSERT then keeps
        // the hub's keyed-upsert semantics without re-stating the keys.
        // Tables routed by a key SUBSET (interval tables) never carry the
        // marker: merging on the routing column alone would collapse
        // multi-row keys, so the keyless refusal stays loud for them.
        def declaredKeys: Seq[String] = v.bucketCols.filter(cols =>
          v.schema.exists(sch => cols.forall(c => sch.fields.exists(f =>
            f.name.equalsIgnoreCase(c) &&
              f.metadata.contains(ClusteredKeyKey) &&
              f.metadata.getBoolean(ClusteredKeyKey)))))
          .getOrElse(Seq.empty)
        val ks = if (keys.nonEmpty) keys else declaredKeys
        require(ks.nonEmpty,
          s"hub at $path is bucketed; a keyless write() cannot route rows " +
            "to buckets — provide the hub primary keys")
        val (n, bCols) = (v.nBuckets.get, v.bucketCols.getOrElse(ks))
        checkBucketedArgs(ks, bCols, deletes)
        mergeBucketed(spark, path, committed, df, ks, n, bCols, deletes,
          optimizeWrite = true, checks0)
      case base =>
        require(deletes.isEmpty || keys.nonEmpty,
          "deletes require the hub primary keys")
        deletes.foreach(d => require(d.columns.sorted.sameElements(keys.sorted),
          s"deletes must carry exactly the key columns $keys, " +
            s"got ${d.columns.toSeq}"))
        base match {
          case Some(v) if keys.isEmpty && appendable(v, df.schema) =>
            // the batch alone, aligned to the widened record (missing
            // columns NULL, base metadata kept) so identity, generated
            // columns and CHECK see full rows; an emptied base's dirs go
            import org.apache.spark.sql.functions.{col, lit}
            val merged = mergeStruct(v.schema.get, Version.nullable(df.schema))
            val batch = df.select(merged.fields.toIndexedSeq.map { f =>
              (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
               else lit(null).cast(f.dataType)).as(f.name, f.metadata)
            }: _*)
            stageGroups(spark, path, base, enforceChecks(batch, base),
              Seq(FlatGroup), append = v.rows > 0L)
          case None => stageGroups(spark, path, None,
            enforceChecks(df, None, checks0), Seq(FlatGroup),
            checks0 = checks0)
          case Some(v) =>
            // a 0-row base (e.g. a catalog CREATE TABLE's empty v1) may
            // hold no part files at all — parquet cannot infer a schema
            // from an empty dir, but the manifest records it
            val target0 =
              if (v.rows == 0L) emptyFrame(spark, snapshotSchema(spark, path, v))
              else readDirs(spark, v, v.dirs.map(resolve(path, _)))
            val target = deletes.fold(target0)(d =>
              target0.join(d, keys, "left_anti"))
            val (t, s) = HubWriter.reconcileSchemas(target, df)
            val merged =
              if (keys.isEmpty) t.unionByName(s)
              else HubWriter.merge(t, s, keys,
                identitySpecs(v.schema).map(_._1.name))
            stageGroups(spark, path, base, enforceChecks(merged, base),
              Seq(FlatGroup))
        }
    }
  }

  /** A keyless batch APPENDS to flat `v` (a new dir in its group) when `v`
    * records a schema and no base column changes type beyond what the
    * parquet reader widens in old files ([[isZeroCopyWidening]]).
    */
  private def appendable(v: Version, batch: StructType): Boolean =
    v.schema.exists { bs =>
      val merged = mergeStruct(bs, Version.nullable(batch))
      bs.fields.zip(merged.fields).forall { case (a, b) =>
        a.dataType == b.dataType || isZeroCopyWidening(a.dataType, b.dataType)
      }
    }

  /** Plant a codegen'd [[CheckInvariant]] over `ok` resolved against `df`
    * (the predicate is planted in a throwaway filter and its ANALYZED
    * condition lifted, so exprIds match df's plan — the analyzer is
    * idempotent on the already-analyzed child). One Filter inside the
    * write's own whole-stage-codegen span; throws Spark's standard
    * CHECK_CONSTRAINT_VIOLATION naming `name` and the violating row.
    */
  private def invariantFilter(df: DataFrame,
      ok: org.apache.spark.sql.Column, name: String,
      sqlText: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{CheckInvariant, Expression}
    val cond = df.filter(ok).queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]
      .condition
    val extractors = cond.references.toSeq.sortBy(_.name)
      .map(a => a.name -> (a: Expression))
    df.filter(org.apache.spark.sql.graftbridge.ColumnBridge.column(
      CheckInvariant(cond, extractors, name, sqlText)))
  }

  /** Wrap `df` in the table's CHECK constraints via Spark's codegen'd
    * [[org.apache.spark.sql.catalyst.expressions.CheckInvariant]] (the
    * expression behind ANSI CHECK and Delta invariants): one Filter that
    * evaluates every active constraint per row INSIDE the write's own
    * pass — whole-stage codegen, zero extra job or shuffle — and throws
    * Spark's standard CHECK_CONSTRAINT_VIOLATION error naming the
    * constraint and the violating row's values. NULL predicates pass,
    * per the SQL standard. Identity for the (overwhelmingly common)
    * check-free table. Applied to the rows a commit WRITES (the merged
    * snapshot / touched buckets): committed data is invariantly valid
    * (ADD CONSTRAINT validates existing rows first), so layout-only
    * rewrites (compaction, z-order) and deletes skip re-validation.
    */
  private def enforceChecks(df: DataFrame,
      checks: Map[String, String]): DataFrame =
    checks.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, sql)) =>
      invariantFilter(d, org.apache.spark.sql.functions.expr(sql), name, sql)
    }

  /** Materialize GENERATED ALWAYS AS columns (Delta parity, via Spark's
    * own generation-expression field metadata, so the recorded schema
    * carries them for free): for every generated column the written rows
    * carry, (1) a provided NON-NULL value must equal the expression —
    * enforced by the same codegen'd CheckInvariant the CHECK constraints
    * use, so a mismatched explicit value fails loudly instead of being
    * silently replaced — and (2) the stored value IS the expression,
    * computed over the row being written (a NULL/omitted value is simply
    * filled; after an UPDATE of a source column the generated column
    * recomputes automatically because this runs on the post-update
    * rows). Zero extra pass: one filter + one projection inside the
    * write's own whole-stage-codegen span. Identity for tables without
    * generated columns. Declared at CREATE TABLE only, like Delta.
    */
  private def applyGenerated(df: DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    import org.apache.spark.sql.catalyst.util.GeneratedColumn
    import org.apache.spark.sql.functions.{col, expr}
    val gens: Seq[(org.apache.spark.sql.types.StructField, String)] =
      schema.map(_.fields.toSeq).getOrElse(Seq.empty)
        .flatMap(f => GeneratedColumn.getGenerationExpression(f).map(f -> _))
        .filter { case (f, _) => df.columns.exists(_.equalsIgnoreCase(f.name)) }
    if (gens.isEmpty) df
    else {
      val guarded = gens.foldLeft(df) { case (d, (f, sql)) =>
        invariantFilter(d,
          col(f.name).isNull || (col(f.name) <=> expr(sql).cast(f.dataType)),
          s"${f.name} GENERATED ALWAYS AS ($sql)",
          s"${f.name} IS NULL OR ${f.name} <=> ($sql)")
      }
      guarded.select(df.columns.toIndexedSeq.map { c =>
        gens.find(_._1.name.equalsIgnoreCase(c)) match {
          // alias WITH the field's metadata: the recorded schema derives
          // from this projection, and a bare alias would drop the
          // generation expression (and any column-mapping key) from it
          case Some((f, sql)) => expr(sql).cast(f.dataType).as(c, f.metadata)
          case None => col(c)
        }
      }: _*)
    }
  }

  /** High-water mark of an identity column: the most-extreme value (in
    * step direction) any commit has allocated or observed, stored IN the
    * recorded schema's field metadata — every commit site already carries
    * the schema forward, so the mark survives compaction / ALTER / clone
    * for free, and time travel / restore see the mark AS OF that version.
    */
  private[graft] val IdentityHighKey = "graft.identity.high"

  /** Field-metadata marker on bucket columns a catalog `CLUSTERED BY`
    * declared as the TABLE'S KEYS — the license for keyless writes to
    * merge on them. Carried by every commit like all schema metadata.
    */
  private[graft] val ClusteredKeyKey = "graft.clusteredKey"

  private[graft] final case class IdSpec(start: Long, step: Long,
      allowExplicit: Boolean, high: Option[Long])

  /** The identity columns of a recorded schema (field + parsed spec),
    * via Spark's own identity metadata keys.
    */
  private[graft] def identitySpecs(schema: Option[
      org.apache.spark.sql.types.StructType])
      : Seq[(org.apache.spark.sql.types.StructField, IdSpec)] = {
    import org.apache.spark.sql.catalyst.util.IdentityColumn
    schema.map(_.fields.toSeq).getOrElse(Seq.empty).flatMap { f =>
      IdentityColumn.getIdentityInfo(f).map { spec =>
        f -> IdSpec(spec.getStart, spec.getStep, spec.isAllowExplicitInsert,
          if (f.metadata.contains(IdentityHighKey))
            Some(f.metadata.getLong(IdentityHighKey)) else None)
      }
    }
  }

  /** Allocate identity values (Delta GENERATED AS IDENTITY parity): rows
    * carrying NULL in an identity column get a fresh value strictly beyond
    * the recorded high-water mark, in one codegen'd projection with NO
    * shuffle — value = base + step * monotonically_increasing_id(), unique
    * per partition slot (the 33-bit partition stride leaves gaps, which
    * identity explicitly permits; uniqueness and step-direction
    * monotonicity vs. all prior commits are the contract). Rows already
    * holding a value (carried snapshot rows, explicit BY DEFAULT inserts)
    * keep it. The new mark is recovered from the written files' own
    * min/max stats at commit ([[stampIdentityHigh]]) — no second pass.
    */
  private def applyIdentity(df: DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id, when}
    val ids = identitySpecs(schema)
      .filter { case (f, _) => df.columns.exists(_.equalsIgnoreCase(f.name)) }
    if (ids.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map { c =>
      ids.find(_._1.name.equalsIgnoreCase(c)) match {
        case Some((f, s)) =>
          // next progression point beyond the mark: allocated values stay
          // on start + k*step even after an explicit BY DEFAULT insert
          // moved the mark off-progression (Delta watermark rounding)
          val base = s.high.fold(s.start)(h =>
            s.start + (Math.floorDiv(h - s.start, s.step) + 1) * s.step)
          when(col(c).isNull,
            lit(base) + lit(s.step) * monotonically_increasing_id())
            .otherwise(col(c)).as(c, f.metadata)
        case None => col(c)
      }
    }: _*)
  }

  /** The physical column names whose footer min/max the identity
    * high-water recovery depends on — passed to [[FileStats.collect]] so
    * they are indexed even beyond the stats width cap (an identity column
    * declared after the 32nd column would otherwise never advance its
    * mark, and later commits would re-allocate from START).
    */
  private def identityPhys(
      s: org.apache.spark.sql.types.StructType): Set[String] =
    identitySpecs(Some(s)).map(t => ColumnMapping.physName(t._1)).toSet

  /** Fold the identity high-water marks observed in a commit's NEW files
    * (their per-column min/max stats — already collected for data
    * skipping, so the mark costs nothing) into the recorded schema. The
    * old mark participates, so an overwrite/upsert that drops the extreme
    * row never lowers the mark (ids are never reused).
    */
  private def stampIdentityHigh(rec: org.apache.spark.sql.types.StructType,
      fstats: Map[String, FileStats.FileStat])
      : org.apache.spark.sql.types.StructType = {
    val ids = identitySpecs(Some(rec))
    if (ids.isEmpty) return rec
    def num(v: Any): Long = v match {
      case n: Number => n.longValue()
      case other => other.toString.toLong
    }
    val updated = ids.flatMap { case (f, s) =>
      val phys = ColumnMapping.physName(f)
      val observed = fstats.values.flatMap { st =>
        st.cols.get(phys).flatMap(cs => if (s.step > 0) cs.max else cs.min)
      }.map(num)
      val mark = (observed ++ s.high).reduceOption((a, b) =>
        if (s.step > 0) math.max(a, b) else math.min(a, b))
      mark.map(m => f.name -> m)
    }.toMap
    if (updated.isEmpty) rec
    else org.apache.spark.sql.types.StructType(rec.fields.map { f =>
      updated.get(f.name).fold(f)(m =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(IdentityHighKey, m).build()))
    })
  }

  /** V2 INSERT/OVERWRITE guard: every row of an append is user-provided,
    * so a non-NULL value in a GENERATED ALWAYS AS IDENTITY column is an
    * explicit insert — refused through the same codegen'd CheckInvariant
    * the CHECK constraints use (loud, row-valued, zero extra pass). NOT
    * applied on merge/update paths, whose carried target rows legitimately
    * hold allocated values.
    */
  private[graft] def refuseExplicitIdentity(df: DataFrame,
      path: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val strict = latest(df.sparkSession, path).toSeq
      .flatMap(v => identitySpecs(v.schema))
      .filterNot(_._2.allowExplicit)
      .filter { case (f, _) =>
        df.columns.exists(_.equalsIgnoreCase(f.name)) }
    strict.foldLeft(df) { case (d, (f, _)) =>
      invariantFilter(d, col(f.name).isNull,
        s"${f.name} GENERATED ALWAYS AS IDENTITY accepts no explicit " +
          "values (omit the column and the write allocates one)",
        s"${f.name} IS NULL")
    }
  }

  /** Identity allocation, then generated columns, then CHECK constraints
    * (a generation expression or CHECK may reference the identity value
    * and must see it filled). A base-less (table-CREATING) commit is not
    * constraint-less: `checks0` is validated over the rows the commit
    * itself carries, and identity/generated metadata in df's OWN schema
    * is honored — a no-op for the catalog's empty-v1 caller, but a direct
    * first write carrying data plus checks0 fails loudly on violating
    * rows instead of stamping them valid.
    */
  private def enforceChecks(df: DataFrame, base: Option[Version],
      checks0: Map[String, String] = Map.empty): DataFrame =
    base match {
      case Some(v) => enforceChecks(
        applyGenerated(applyIdentity(df, v.schema), v.schema), v.checks)
      case None =>
        val own = Some(df.schema)
        enforceChecks(applyGenerated(applyIdentity(df, own), own), checks0)
    }

  /** The generated-column names of a snapshot schema (lower-cased). */
  private[graft] def generatedCols(v: Version): Set[String] =
    v.schema.map(_.fields.toSeq).getOrElse(Seq.empty)
      .filter(f => org.apache.spark.sql.catalyst.util.GeneratedColumn
        .isGeneratedColumn(f))
      .map(_.name.toLowerCase(java.util.Locale.ROOT)).toSet

  /** The column names (lower-cased, top-level) a stored CHECK predicate
    * references — the DROP/RENAME COLUMN guard's view of a constraint.
    */
  private[graft] def checkReferences(spark: SparkSession,
      sql: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        ua.nameParts.head.toLowerCase(java.util.Locale.ROOT)
    }.toSet

  /** One commit attempt's outcome, handed back to [[commitLoop]]: `Done`
    * returns a version without committing (a no-op, a restore to the tip);
    * `Stage` is the next version to claim, with the data dir the attempt
    * wrote — deleted if the claim loses; None for manifest-only commits.
    */
  private sealed trait Step
  private final case class Done(version: Int) extends Step
  private final case class Stage(v: Version, orphan: Option[String])
      extends Step

  /** THE optimistic-commit loop every writer runs. Each attempt reads the
    * log once, returns the version of a replayed `batchId`, refuses to
    * start a log over an unversioned hub, and hands the CURRENT history to
    * `stage`, which recomputes the snapshot-to-commit from that base (a
    * retry after losing the race must fold in the winner's rows —
    * recompacting/remerging a stale base would silently drop the
    * concurrent commit) and picks its layout from that base. The staged
    * manifest, stamped with `batchId`, is claimed exclusively; a loser
    * deletes its orphan data dir and retries against the winner.
    */
  private def commitLoop(spark: SparkSession, path: String,
      batchId: Option[Long] = None)(stage: Seq[Version] => Step): Int = {
    val fs = fileSystem(spark, path)
    var attempt = 0
    while (attempt < MaxRetries) {
      attempt += 1
      val committed = history(spark, path)
      for (id <- batchId; v <- committed.find(_.batchId.contains(id)))
        return v.version // replayed batch: already committed
      if (committed.isEmpty) refuseUnversioned(fs, path)
      stage(committed) match {
        case Done(version) => return version
        case Stage(staged, orphan) =>
          val v = if (batchId.isEmpty) staged else staged.copy(batchId = batchId)
          if (commit(fs, path, v)) return v.version
          orphan.foreach(d => fs.delete(new Path(resolve(path, d)), true))
          failIfStuck(spark, path, v.version)
      }
    }
    throw new IllegalStateException(
      s"hub at $path: lost the commit race $MaxRetries times — giving up")
  }

  /** The tip of an attempt's history, or the no-table refusal. */
  private def tip(committed: Seq[Version], path: String,
      op: String = ""): Version = committed.lastOption.getOrElse(
    throw new IllegalArgumentException(s"no committed versions at $path$op"))

  private def freshRoot(version: Int): String =
    s"data/$version-${UUID.randomUUID().toString.take(8)}"

  /** Stage a REWRITE of the `touched` file groups (or, with `append`, an
    * addition to them): write `rows` under a fresh root — partitioned by
    * [[BucketCol]] on a bucketed table, as one dir on a flat one — and map
    * each touched group to what materialized (a partitionBy write emits no
    * dir for an empty bucket, so a bucket whose rows all went drops out;
    * the flat group always keeps its dir). Untouched groups, and every
    * still-referenced dir's file stats and deletion vectors, carry from
    * `base` (structural sharing), so the manifest records ONLY this
    * commit's files. Materialized groups and their rows come from the
    * footer pass's own file list — no listing of the just-written root.
    */
  private def stageGroups(spark: SparkSession, path: String,
      base: Option[Version], rows: DataFrame, touched: Seq[Int],
      append: Boolean = false,
      // the recorded schema; default: the base's widened by `rows`
      schema: Option[StructType] = None,
      // the write's physical layout over the physical-column frame
      shape: DataFrame => DataFrame = identity,
      // bucket count and routing; default: the base's
      nBuckets: Option[Int] = None,
      bucketCols: Option[Seq[String]] = None,
      // CHECK constraints for the TABLE-CREATING commit only
      checks0: Map[String, String] = Map.empty): Stage = {
    val fs = fileSystem(spark, path)
    val next = base.map(_.version).getOrElse(0) + 1
    val root = freshRoot(next)
    val n = nBuckets.orElse(base.flatMap(_.nBuckets))
    // the recorded schema is the UNION of the base's recorded schema and
    // the written rows': `rows` covers only the TOUCHED groups (or only the
    // batch), so after a schema evolution a column living solely in
    // carried dirs would otherwise vanish from the record
    val snap = schema.getOrElse(
      unionSchema(spark, path, base, rows.drop(BucketCol).schema))
    val shaped = shape(ColumnMapping.toPhysical(rows, snap))
    if (n.isDefined) shaped.write.options(BloomIndex.options(snap))
      .partitionBy(BucketCol).parquet(resolve(path, root))
    else shaped.drop(BucketCol).write.options(BloomIndex.options(snap))
      .parquet(resolve(path, root))
    // ONE footer pass over the files just written serves the whole
    // manifest audit: row counts, per-file bytes, and per-file column
    // min/max for data skipping. Small commits read footers driver-side
    // with no Spark job at all; large ones run one metadata-only job.
    val fstats = FileStats.collect(spark, fs, new Path(path),
      new Path(resolve(path, root)), identityPhys(snap))
    val prefix = s"$root/$BucketCol="
    val (newRows, newDir): (Map[Int, Long], Int => String) =
      if (n.isEmpty) (Map(FlatGroup -> fstats.values.map(_.rows).sum), _ => root)
      else (fstats.toSeq.collect {
        case (p, st) if p.startsWith(prefix) =>
          p.substring(prefix.length, p.indexOf('/', prefix.length)).toInt ->
            st.rows
      }.groupMapReduce(_._1)(_._2)(_ + _), b => s"$prefix$b")
    // a base of another layout (the empty flat v1 a bucketed hub adopts)
    // carries nothing
    val same = base.filter(_.nBuckets == n)
    val oldDirs = same.fold(Map.empty[Int, Seq[String]])(_.groups)
    val oldRows = same.fold(Map.empty[Int, Long])(_.groupRows)
    // a manifest from before per-bucket rows underneath: count its legacy
    // dirs once (the new manifest records them)
    def rowsOf(g: Int): Long = oldRows.getOrElse(g,
      spark.read.parquet(oldDirs(g).map(resolve(path, _)): _*).count())
    val carried = if (append) oldDirs else oldDirs -- touched
    val groups = carried ++ newRows.keys.map(g => g ->
      (carried.getOrElse(g, Nil) :+ newDir(g)))
    val groupRows = carried.map { case (g, _) => g -> rowsOf(g) } ++
      newRows.map { case (g, r) =>
        g -> (r + (if (carried.contains(g)) rowsOf(g) else 0L)) }
    Stage(Version(next, System.currentTimeMillis(),
      groupRows.values.sum, None, n,
      groups, bucketCols.orElse(base.flatMap(_.bucketCols)),
      if (n.isDefined) groupRows else Map.empty,
      schemaJson = Some(stampIdentityHigh(snap, fstats).json),
      statsNew = fstats,
      statsCarried = () => base.fold(
        Map.empty[String, FileStats.FileStat])(_.fileStats),
      dvCarried = () => base.fold(Map.empty[String, Seq[Long]])(_.dvs),
      checks = base.fold(checks0)(_.checks)), Some(root))
  }

  private def checkBucketedArgs(keys: Seq[String], bCols: Seq[String],
      deletes: Option[DataFrame]): Unit = {
    require(keys.nonEmpty, "bucketed versioned hub requires primary keys")
    require(bCols.nonEmpty && bCols.forall(keys.contains),
      s"bucket columns $bCols must be a non-empty subset of the keys $keys — " +
        "routing by a non-key column would split one key across buckets")
    deletes.foreach(d => require(d.columns.sorted.sameElements(keys.sorted),
      s"deletes must carry exactly the key columns $keys, got ${d.columns.toSeq}"))
  }

  /** The live rows of `base`'s file `groups`, each tagged with its group
    * id in [[BucketCol]] — what a group rewrite reads. readDirs (not a raw
    * scan): old generations read through the recorded schema's
    * widening/padding AND its column mapping; groups of a legacy manifest
    * without a recorded schema mergeSchema-infer per group and can drift,
    * so they reconcile pairwise like the writers.
    */
  private def readGroups(spark: SparkSession, path: String, base: Version,
      groups: Seq[Int]): DataFrame =
    groups.map { g =>
      readDirs(spark, base, base.groups(g).map(resolve(path, _)))
        .withColumn(BucketCol, org.apache.spark.sql.functions.lit(g))
    }.reduce { (a, b) =>
      val (x, y) = HubWriter.reconcileSchemas(a, b)
      x.unionByName(y)
    }

  /** BUCKETED versioned merge — the O(batch) commit path that survives a
    * 100 TB hub: the manifest maps bucket → data dir, a merge rewrites ONLY
    * the hash buckets the batch touches, and the new manifest references
    * the untouched buckets' existing dirs (structural sharing across
    * versions, like Delta's file-level add/remove). Commits through the
    * same [[commitLoop]] as [[write]], batchId idempotence included. Keys
    * are hashed through [[HubWriter.canonicalKey]] so type-widened keys
    * keep their bucket across runs.
    *
    * `bucketCols` (default: the merge keys) routes rows to buckets by a
    * SUBSET of the keys — e.g. bucket an interval table keyed by
    * (user_id, valid_from_us) on user_id alone, so every row of one entity
    * shares a bucket and a reader holding a set of entities can prune the
    * scan to their buckets ([[readBucketsFor]]). The choice is recorded in
    * the manifest and immutable, like the bucket count: mixing routings
    * would scatter one key's row across generations and duplicate it.
    *
    * `deletes` (columns = exactly the merge keys) removes matching target
    * rows from the touched buckets in the same atomic commit, before the
    * upsert — the primitive an interval-splicing writer needs (a re-fold
    * can retire a key, not just update it). A bucket whose rows are all
    * deleted drops out of the manifest.
    */
  def writeBucketed(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      keys: Seq[String],
      nBuckets: Int,
      batchId: Option[Long] = None,
      bucketCols: Option[Seq[String]] = None,
      deletes: Option[DataFrame] = None,
      optimizeWrite: Boolean = true,
      // CHECK constraints for a TABLE-CREATING commit (atomic CREATE TABLE
      // ... CLUSTERED BY ... CHECK); ignored once the table has versions
      checks0: Map[String, String] = Map.empty
  ): Int = {
    val bCols = bucketCols.getOrElse(keys)
    checkBucketedArgs(keys, bCols, deletes)
    commitLoop(spark, path, batchId)(committed =>
      mergeBucketed(spark, path, committed, df, keys, nBuckets, bCols,
        deletes, optimizeWrite, checks0))
  }

  /** One attempt of [[writeBucketed]]'s merge of `df` against the tip of
    * `committed`.
    */
  private def mergeBucketed(spark: SparkSession, path: String,
      committed: Seq[Version], df: DataFrame, keys: Seq[String],
      nBuckets: Int, bCols: Seq[String], deletes: Option[DataFrame],
      optimizeWrite: Boolean, checks0: Map[String, String]): Stage = {
    def stamp(d: DataFrame): DataFrame = stampBuckets(d, bCols, nBuckets)
    val base = committed.lastOption
    for (v <- base; b <- v.nBuckets)
      require(b == nBuckets,
        s"hub at $path is bucketed with nBuckets=$b; got $nBuckets — " +
          "bucket count is immutable once written")
    for (v <- base; bc <- v.bucketCols)
      require(bc == bCols,
        s"hub at $path is bucketed by $bc; got $bCols — bucket routing " +
          "is immutable once written")
    // a FLAT base whose ENTIRE history never held a row (a catalog
    // CREATE TABLE's empty v1) may adopt the bucketed layout — there is
    // no data to mix at ANY version, so time travel/restore across the
    // flip only ever sees empty flat snapshots, and the recorded
    // schema/checks (identity, generated, defaults) carry into the
    // bucketed lineage. A flat lineage with any row-bearing version —
    // even one later emptied by a delete-all — stays refused: restoring
    // past the flip would resurrect data under the wrong layout
    require(base.forall(v => v.nBuckets.isDefined ||
        committed.forall(_.rows == 0L)),
      s"hub at $path has non-bucketed versions with rows — cannot mix " +
        "layouts")
    // the attempt consumes `stamped` at least twice (touched-bucket
    // collect, then the snapshot write) — persist so an expensive upstream
    // (a span trim, an LSH verify) runs once per attempt, not once per
    // consumer
    val stamped = graft.GraftSession.persistForReuse(stamp(df))
    try {
      // the touched-bucket set gates which BASE dirs the merge reads; a
      // base-less first commit reads nothing, so the collect (one full
      // computation of `stamped`) is skipped and every bucket counts as
      // touched — the manifest maps exactly the dirs the write materialized
      val touched: IndexedSeq[Int] =
        if (base.isEmpty) 0 until nBuckets
        else (deletes match {
          case None => stamped.select(BucketCol)
          case Some(d) => stamped.select(BucketCol)
            .unionByName(stamp(d).select(BucketCol))
        }).distinct()
          .collect().map(_.getInt(0)).sorted.toIndexedSeq // ≤ nBuckets values
      // true when the merge below already clustered its output by
      // [[BucketCol]] (the single-exchange run-merge): the optimized
      // write's repartition would be a second, redundant shuffle of the
      // same rows by the same expression — skip it
      var mergeClustered = false
      val merged = base match {
        case None => stamped
        case Some(v) =>
          val dirs = touched.flatMap(v.buckets.get).flatten
            .map(resolve(path, _))
          if (dirs.isEmpty) stamped
          else {
            val read = readDirs(spark, v, dirs)
            val target = deletes match {
              case None => read
              case Some(d) => read.join(d, keys, "left_anti")
            }
            val (t, s) = HubWriter.reconcileSchemas(
              target, stamped.drop(BucketCol))
            val idCols = identitySpecs(v.schema).map(_._1.name)
            if (idCols.isEmpty && optimizeWrite) {
              // ONE exchange (guide §2.4): the per-key winner is computed
              // inside a bucket-partitioned window, which is exactly the
              // distribution the optimized write wants — the key-hash
              // window shuffle AND the bucket repartition collapse into
              // one. Identity inheritance needs the per-key aggregate
              // window, so identity hubs keep the classic two-exchange
              // merge.
              mergeClustered = true
              HubWriter.mergeBucketedByRun(stamp(t), stamp(s), keys,
                BucketCol)
            } else stamp(HubWriter.merge(t, s, keys, idCols))
          }
      }
      // OPTIMIZED WRITE (Delta's optimizeWrite shape): co-locate each
      // bucket's rows into one shuffle partition before partitionBy, so a
      // commit writes ONE file per touched bucket instead of one per
      // (task × bucket) — a 32-task streaming trigger was paying 128 tiny
      // files per version (footer passes, listings, downstream opens). The
      // extra exchange moves only the touched buckets' rows; bucket count
      // bounds the write parallelism, which is exactly the layout's scale
      // knob.
      // `optimizeWrite = false` opts out for bulk loads whose single-bucket
      // volume wants task-level write parallelism (then compactBuckets is
      // the small-file remedy, as before)
      val toWrite = enforceChecks(
        if (optimizeWrite && !mergeClustered)
          merged.repartition(org.apache.spark.sql.functions.col(BucketCol))
        else merged,
        base, checks0)
      stageGroups(spark, path, base, toWrite, touched,
        nBuckets = Some(nBuckets), bucketCols = Some(bCols),
        checks0 = checks0)
    } finally stamped.unpersist()
  }

  /** The committed version's full-snapshot schema: the base's recorded
    * schema (falling back to ONE mergeSchema read of the base snapshot for
    * legacy manifests predating the record) union-widened with the columns
    * this commit wrote.
    */
  private def unionSchema(spark: SparkSession, path: String,
      base: Option[Version],
      written: org.apache.spark.sql.types.StructType
  ): org.apache.spark.sql.types.StructType =
    base.map(v => v.schema.getOrElse(read(spark, path, Some(v.version)).schema))
      .fold(written)(bs => mergeStruct(bs, Version.nullable(written)))

  private def mergeStruct(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType
  ): org.apache.spark.sql.types.StructType = {
    val aNames = a.fieldNames.toSet
    val bMap = b.fields.map(f => f.name -> f).toMap
    org.apache.spark.sql.types.StructType(a.fields.map { f =>
      bMap.get(f.name) match {
        case Some(g) if g.dataType != f.dataType =>
          f.copy(dataType = HubWriter.widen(f.dataType, g.dataType),
            nullable = true)
        case _ => f
      }
    } ++ b.fields.filterNot(f => aNames.contains(f.name)))
  }

  /** Pad, cast and reorder a (possibly bucket-pruned) read to the recorded
    * full-snapshot schema: a column living only in unpruned dirs comes back
    * all-null — exactly what the full read would have shown for the emitted
    * rows — and a column narrower in old bucket generations widens to the
    * recorded type.
    */
  private[graft] def alignTo(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.schema.map(f => f.name -> f.dataType).toMap
    val cols = schema.fields.map { f =>
      have.get(f.name) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(dt) if dt != f.dataType => col(f.name).cast(f.dataType).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq
    df.select(cols: _*)
  }

  /** Read a version's dirs with its RECORDED full-snapshot schema: no
    * parquet schema inference (zero footer jobs), and files from older
    * bucket generations read through type widening (int32 under a BIGINT
    * column) and missing-column padding — parquet's own mergeSchema can do
    * neither (CANNOT_MERGE_SCHEMAS on a widened column). Legacy manifests
    * without a recorded schema fall back to mergeSchema inference.
    */
  private[graft] def readDirs(spark: SparkSession, v: Version,
      dirs: Seq[String]): DataFrame =
    v.schema match {
      case Some(s) =>
        // column mapping: files spell renamed columns by their frozen
        // PHYSICAL names — scan with those, alias back to the logical view
        // (identity when the table was never renamed)
        val phys = ColumnMapping.physicalSchema(s)
        ColumnMapping.toLogical(applyDv(spark,
          injectPathCols(spark.read.schema(phys).parquet(dirs: _*), phys),
          v.dvs), s)
      case None => applyDv(spark,
        spark.read.option("mergeSchema", "true").parquet(dirs: _*), v.dvs)
    }

  /** Schema-metadata marker on columns a [[convertPartitioned]] adoption
    * materialized into FILE NAMES instead of file contents: the adopted
    * parquet files never held the hive partition column, so its per-row
    * value is parsed back out of the scan's `_metadata.file_path`
    * (`<col>=<value>;` basename prefix) by [[injectPathCols]]. Travels in
    * `schemaJson` like [[ClusteredKeyKey]], so every commit site carries
    * it for free and later rewrites (OPTIMIZE, DELETE, merge) — whose
    * output files DO hold the column physically — stay correct: the
    * injection is a `coalesce(physical, parsed)` and physical wins.
    */
  private[graft] val PathColKey = "graft.pathCol"

  /** Fill every [[PathColKey]]-marked column from the scanned file's NAME
    * when the file does not carry it physically (adopted hive-partition
    * files read it as null; files written after the adoption hold real
    * values and win the coalesce). Pure codegen'd expressions — a regexp
    * over `_metadata.file_path` plus a cast — so the scan stays inside
    * whole-stage codegen; identity (zero plan nodes) for the
    * overwhelmingly common unmarked schema.
    */
  private[graft] def injectPathCols(df: DataFrame,
      phys: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, nullif, regexp_extract}
    val pcs = phys.fields.filter(f => f.metadata.contains(PathColKey) &&
      f.metadata.getBoolean(PathColKey))
    if (pcs.isEmpty) df
    else pcs.foldLeft(df) { (d, f) =>
      val pat = "[/;]" + java.util.regex.Pattern.quote(f.name) + "=([^;/]*);"
      d.withColumn(f.name, coalesce(col(f.name),
        nullif(regexp_extract(col("_metadata.file_path"), pat, 1), lit(""))
          .cast(f.dataType)))
    }
  }

  /** Columns [[applyDv]] and the DV writer key deletions by. */
  private[graft] val DvFileCol = "__graft_dv_file"
  private[graft] val DvPosCol = "__graft_dv_pos"

  /** The DV join key of a file path: its last two segments,
    * `<parent-dir>/<basename>`. The basename alone is NOT unique — one
    * write job stamps every file with the same job UUID, so a task
    * holding two buckets emits `bucket=3/part-00007-<uuid>` AND
    * `bucket=5/part-00007-<uuid>`. Adding the immediate parent dir
    * disambiguates within a job (one file per (dir, split)), and the
    * per-job UUID disambiguates across jobs/roots — while still
    * sidestepping URI-qualification mismatches between the manifest's
    * relative paths and `_metadata.file_path`. [[deleteWhere]] asserts
    * key uniqueness over the live file set before ever committing a DV.
    */
  private def dvKeyOf(p: String): String = {
    val i = p.lastIndexOf('/')
    val j = if (i <= 0) -1 else p.lastIndexOf('/', i - 1)
    p.substring(j + 1)
  }

  /** Filter a parquet scan through the snapshot's DELETION VECTORS:
    * a broadcast LEFT-ANTI join on (file key, physical row index) —
    * whole-stage-codegen'd BroadcastHashJoin, no UDF, no shuffle, and an
    * identity no-op for the (overwhelmingly common) DV-free snapshot.
    */
  private[graft] def applyDv(spark: SparkSession, df: DataFrame,
      dvs: Map[String, Seq[Long]]): DataFrame =
    if (dvs.isEmpty) df
    else applyDvTagged(spark, tagDvAddress(df), dvs)
      .drop(DvFileCol, DvPosCol)

  /** Stamp every scanned row with its DV address: (file basename,
    * physical row index), from the parquet source's `_metadata` column.
    */
  private def tagDvAddress(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat_ws, element_at, split}
    val segs = split(col("_metadata.file_path"), "/")
    df.withColumn(DvFileCol,
        concat_ws("/", element_at(segs, -2), element_at(segs, -1)))
      .withColumn(DvPosCol, col("_metadata.row_index"))
  }

  /** The anti-join itself — expects [[tagDvAddress]]'d input and keeps
    * the address columns (callers drop or reuse them).
    */
  private def applyDvTagged(spark: SparkSession, df: DataFrame,
      dvs: Map[String, Seq[Long]]): DataFrame = {
    if (dvs.isEmpty) return df
    import org.apache.spark.sql.functions.{broadcast, col}
    val pairs = dvs.toSeq.flatMap { case (p, ps) =>
      val key = dvKeyOf(p)
      ps.map(pos => (key, pos))
    }
    import spark.implicits._
    val dvDf = pairs.toDF(DvFileCol + "_r", DvPosCol + "_r")
    df.join(broadcast(dvDf),
      col(DvFileCol) === col(DvFileCol + "_r") &&
        col(DvPosCol) === col(DvPosCol + "_r"),
      "left_anti")
  }

  /** [[readDirs]] variant for the DV WRITER: same live-row view (existing
    * DVs applied), plus the (basename, physical row index) address of
    * every row — what a new deletion vector records.
    */
  private[graft] def readDirsWithPos(spark: SparkSession, v: Version,
      dirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val s = v.schema.getOrElse(throw new IllegalStateException(
      "DV writes need a recorded snapshot schema"))
    val phys = ColumnMapping.physicalSchema(s)
    val raw = tagDvAddress(
      injectPathCols(spark.read.schema(phys).parquet(dirs: _*), phys))
    val live = applyDvTagged(spark, raw, v.dvs)
    // logical aliasing with the address columns carried through
    val l2p = s.fields.map(f => f.name -> ColumnMapping.physName(f)).toMap
    live.select(s.fields.toIndexedSeq.map { f =>
      val p = l2p(f.name)
      if (p == f.name) col(f.name) else col(p).as(f.name)
    } ++ Seq(col(DvFileCol), col(DvPosCol)): _*)
  }

  /** Shared bucket-routing stamp: `pmod(xxhash64(canonical cols), n)`. */
  private def stampBuckets(d: DataFrame, cols: Seq[String],
      nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    d.withColumn(BucketCol,
      pmod(xxhash64(cols.map(k =>
        HubWriter.canonicalKey(col(k), d.schema(k).dataType)): _*),
        lit(nBuckets)).cast("int"))
  }

  /** Bucket-PRUNED snapshot read: only the bucket dirs that `probe`'s
    * `cols` values hash to are scanned — O(probe's buckets), not O(hub).
    * This is the steady-state read shape for a foreachBatch writer keeping
    * per-entity state ON the hub: the batch's entity ids are the probe, and
    * per-batch work stays proportional to the batch. `cols` must equal the
    * hub's recorded bucket routing (checked against the manifest when
    * present). Returns rows from the probed buckets only — callers join
    * against the probe to drop same-bucket strangers.
    */
  def readBucketsFor(spark: SparkSession, path: String, probe: DataFrame,
      cols: Seq[String], version: Option[Version] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = version.orElse(latest(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $path"))
    require(v.nBuckets.isDefined, s"hub at $path is not bucketed")
    for (bc <- v.bucketCols) require(bc == cols,
      s"hub at $path is bucketed by $bc, probed by $cols")
    val n = v.nBuckets.getOrElse(v.buckets.keys.max + 1)
    val ids = stampBuckets(probe.select(cols.map(col): _*).distinct(), cols, n)
      .select(BucketCol).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq // ≤ nBuckets values
    val dirs = ids.sorted.flatMap(v.buckets.get).flatten.map(resolve(path, _))
    if (dirs.isEmpty) read(spark, path, Some(v.version)).limit(0)
    else readDirs(spark, v, dirs)
  }

  /** Snapshot read. `version = None` reads the latest committed version;
    * `Some(v)` time-travels to exactly version v: the union of every dir
    * its manifest's file groups name (orphans and older generations are
    * invisible).
    */
  def read(spark: SparkSession, path: String, version: Option[Int] = None): DataFrame = {
    val v = version match {
      case Some(n) => readManifest(spark, path, n).getOrElse(
        throw new IllegalArgumentException(s"hub at $path has no version $n"))
      case None => latest(spark, path).getOrElse {
        refuseUnversioned(fileSystem(spark, path), path)
        throw new IllegalArgumentException(s"no committed versions at $path")
      }
    }
    if (v.dirs.isEmpty) emptyFrame(spark, v.schema.getOrElse(new StructType()))
    else readDirs(spark, v, v.dirs.map(resolve(path, _)))
  }

  private def emptyFrame(spark: SparkSession, s: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)

  /** All committed versions, ascending — the audit/time-travel index. */
  def history(spark: SparkSession, path: String): Seq[Version] = {
    val fs = fileSystem(spark, path)
    val log = new Path(path, LogDir)
    if (!fs.exists(log)) return Nil
    fs.listStatus(log).toSeq
      .map(_.getPath.getName)
      .collect { case ManifestName(n) => n.toInt }
      .sorted
      .flatMap(readManifest(spark, path, _))
  }

  /** Default vacuum retention: unreferenced data dirs younger than this are
    * NOT swept, because they may belong to an in-flight writer whose
    * create-exclusive commit hasn't landed yet — sweeping them would leave
    * the winner's manifest pointing at deleted data (the Delta VACUUM
    * retention rationale). 15 minutes dwarfs any snapshot-write duration at
    * test scale; size it above your longest merge at production scale.
    */
  val DefaultVacuumRetainMs: Long = 15 * 60 * 1000L

  /** Remove data dirs not referenced by any kept manifest (commit-race
    * orphans, expired snapshots) and, when `keepVersions` is set, manifests
    * older than the newest `keepVersions` — Delta VACUUM's shape. Bucketed
    * versions share bucket dirs structurally, so a version ROOT is only
    * deleted once no kept manifest references any dir under it. Never
    * touches the latest version. Data dirs modified within `retainMs` are
    * kept even when unreferenced (in-flight writer protection — see
    * [[DefaultVacuumRetainMs]]); pass 0 only when no writer can be active.
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Option[Int] = None,
      retainMs: Long = DefaultVacuumRetainMs): (Seq[Int], Seq[String]) =
    vacuumImpl(spark, path, keepVersions, retainMs, dryRun = false)

  /** Delta `VACUUM ... DRY RUN` parity: report every manifest version and
    * data root a real vacuum with the same arguments would remove, deleting
    * NOTHING — (droppedVersions, sweptDataRoots relative to `path`/data).
    * The probe applies the same retention clock, so an in-flight writer's
    * young orphan is not listed either.
    */
  def vacuumDryRun(spark: SparkSession, path: String,
      keepVersions: Option[Int] = None,
      retainMs: Long = DefaultVacuumRetainMs): (Seq[Int], Seq[String]) =
    vacuumImpl(spark, path, keepVersions, retainMs, dryRun = true)

  private def vacuumImpl(spark: SparkSession, path: String,
      keepVersions: Option[Int],
      retainMs: Long, dryRun: Boolean): (Seq[Int], Seq[String]) = {
    val fs = fileSystem(spark, path)
    val all = history(spark, path)
    if (all.isEmpty) return (Nil, Nil)
    val keep = keepVersions match {
      case Some(k) if k >= 1 => all.takeRight(k)
      case _ => all
    }
    val dropped = all.filterNot(v => keep.exists(_.version == v.version))
    if (dropped.nonEmpty && !dryRun) {
      // the oldest KEPT version may reconstruct its carried file stats
      // from manifests about to be dropped — anchor it with a full
      // checkpoint FIRST (computed while the chain is still readable).
      // Every younger kept version folds from this anchor: a dir it
      // references that predates the anchor is, by structural sharing,
      // referenced continuously since its introduction — so the anchor's
      // map covers it.
      // FLAT hubs anchor too: a flat tip can be a chain-dependent
      // schema-only commit (alterSchema / bloom_index carry statsNew =
      // empty), and dropping the manifests it carries from would blind
      // `t$files` and skipping stats on a non-empty table.
      val oldest = keep.head
      if (readCheckpoint(spark, fs, path, oldest.version).isEmpty)
        writeCheckpoint(fs, path, oldest)
      for (v <- dropped) {
        val manifest = new Path(new Path(path, LogDir), f"${v.version}%08d.json")
        fs.delete(manifest, false)
        fs.delete(checkpointPath(path, v.version), false)
        fs.delete(checkpointParquetPath(path, v.version), true)
        // the commit coordinator's claim log retains exactly the manifest
        // retention: a dropped version's claim record (which duplicates the
        // full manifest content) has no racer to exclude and no recovery to
        // serve — sweep it with the manifest it claimed
        CommitStore.forScheme(schemeOf(path)).releaseClaim(fs, manifest)
      }
    }
    // roots still referenced: the roots of (or above) every dir a kept
    // version's file groups name
    val referencedRoots = keep.flatMap(_.dirs.map(rootName)).toSet
    val dataRoot = new Path(path, "data")
    val sweepBefore = System.currentTimeMillis() - math.max(retainMs, 0L)
    val swept = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(dataRoot))
      for (st <- fs.listStatus(dataRoot)
           if !referencedRoots.contains(st.getPath.getName)
           if st.getModificationTime < sweepBefore) {
        swept += st.getPath.getName
        if (!dryRun) fs.delete(st.getPath, true)
      }
    (dropped.map(_.version), swept.toSeq.sorted)
  }

  /** "data/<root>[/...]" → "<root>" */
  private def rootName(rel: String): String =
    rel.stripPrefix("data/").takeWhile(_ != '/')

  /** Change-data feed between two committed versions (Delta
    * `table_changes` analogue): one row per key whose state differs, with
    * `_change_type` ∈ insert | update | delete. Computed as a full-outer
    * equi-join of the two snapshots on the hub keys — one shuffle on the
    * key columns, the same partitioning every hub merge already uses.
    * Schema drift between the versions is reconciled with the writer's own
    * widening ladder, so a column added in `toVersion` reads as NULL on the
    * `fromVersion` side (and its appearance alone marks rows as updates
    * only when values actually differ).
    */
  /** The two snapshots a change feed diffs, PRUNED to the file groups
    * that can differ: structural sharing means a group carried unchanged
    * from `fromVersion` to `toVersion` holds bit-identical rows on both
    * sides and contributes nothing to the diff — so when both versions
    * share a layout, only the groups whose dirs (or deletion vectors)
    * DIFFER between the two manifests are read. This turns the CDF's
    * full-outer join from O(hub) into O(touched buckets) per version step
    * — the shape that keeps incremental view maintenance affordable over a
    * 100 TB hub with small streaming commits. A flat hub is one group, so
    * any change reads both snapshots whole; layout-mismatched versions
    * fall back to the full snapshot reads.
    *
    * Schema evolution: each pruned side is aligned to its version's
    * RECORDED full-snapshot schema (manifest `schema` field), so a column
    * living only in unchanged buckets still appears — all-null, exactly as
    * the full read would show it for the emitted rows — and a consumer
    * selecting it by name (e.g. streamingMaterializedView's valCol) never
    * breaks on a delta step that touches only pre-evolution buckets.
    * Versions without a recorded schema (legacy manifests) fall back to
    * full snapshot reads — correctness over pruning.
    */
  private def changedSnapshots(
      spark: SparkSession,
      path: String,
      fromVersion: Int,
      toVersion: Int): (DataFrame, DataFrame) = {
    val hist = history(spark, path)
    def v(n: Int): Version = hist.find(_.version == n).getOrElse(
      throw new IllegalArgumentException(s"hub at $path has no version $n"))
    val (a, b) = (v(fromVersion), v(toVersion))
    val prunable = a.groups.nonEmpty && b.groups.nonEmpty &&
      a.nBuckets == b.nBuckets && a.bucketCols == b.bucketCols &&
      a.schema.isDefined && b.schema.isDefined
    if (!prunable)
      (read(spark, path, Some(fromVersion)), read(spark, path, Some(toVersion)))
    else {
      val (sa, sb) = (a.schema.get, b.schema.get)
      // a group differs when its DIRS changed — or, same dirs, when their
      // DELETION VECTORS changed: a DV commit rewrites nothing yet still
      // changes the live rows the dirs contribute
      def dvOf(ver: Version, k: Int): Map[String, Seq[Long]] =
        ver.groups.get(k)
          .map(ds => ver.dvs.filter(f => ds.exists(d => f._1.startsWith(d + "/"))))
          .getOrElse(Map.empty)
      val diff = (a.groups.keySet ++ b.groups.keySet)
        .filter(k => a.groups.get(k) != b.groups.get(k) ||
          dvOf(a, k) != dvOf(b, k)).toSeq.sorted
      // a side none of the changed groups exist on (or no group differs
      // at all) is schema-shaped empty
      def side(ver: Version, s: StructType): DataFrame =
        diff.flatMap(ver.groups.get).flatten.map(resolve(path, _)) match {
          case Seq() => emptyFrame(spark, s)
          case ds => alignTo(readDirs(spark, ver, ds), s)
        }
      (side(a, sa), side(b, sb))
    }
  }

  /** OVERWRITE the table's content with `df` as one committed version —
    * SQL `INSERT OVERWRITE` semantics: the new snapshot is exactly `df`,
    * earlier versions stay time-travelable. A bucketed hub keeps its
    * recorded layout (rows re-routed through the immutable bucket count
    * and routing columns); a flat hub commits `df` as the next snapshot.
    */
  def overwrite(spark: SparkSession, df: DataFrame, path: String): Int =
    commitLoop(spark, path) { committed =>
      val base = committed.lastOption
      val n = base.flatMap(_.nBuckets)
      // every group counts as touched: the new root is the whole snapshot
      val (rows, touched) = n match {
        case Some(nb) =>
          val bCols = base.flatMap(_.bucketCols).getOrElse(
            throw new IllegalStateException(
              s"hub at $path records no bucket routing"))
          require(bCols.forall(df.columns.contains),
            s"overwrite batch must carry the routing columns $bCols")
          (stampBuckets(df, bCols, nb), 0 until nb)
        case None => (df, Seq(FlatGroup))
      }
      val checked = enforceChecks(rows, base)
      // the record is the new rows' schema, column mapping kept: a reader
      // of an OLD version still needs the physical aliases
      stageGroups(spark, path, base, checked, touched, shape = clustered(n),
        schema = Some(ColumnMapping.graft(checked.drop(BucketCol).schema,
          base.flatMap(_.schema))))
    }

  /** One file per bucket dir (a flat group has no routing to cluster by:
    * its rewrite keeps the scan's own parallelism). */
  private def clustered(n: Option[Int]): DataFrame => DataFrame =
    if (n.isDefined) _.repartition(org.apache.spark.sql.functions.col(BucketCol))
    else identity

  /** RESTORE the table to the content of `version` as a NEW committed
    * version (Delta RESTORE semantics): history is preserved — the
    * restored state becomes the tip, every intermediate version stays
    * time-travelable. Restore is MANIFEST ONLY on every layout: the new
    * commit references the old version's data dirs and deletion vectors
    * structurally, so ZERO data is rewritten no matter the table size (and
    * vacuum keeps those dirs alive exactly because a kept manifest
    * references them). Restoring to the current tip is a no-op.
    */
  def restore(spark: SparkSession, path: String, version: Int): Int =
    commitLoop(spark, path) { committed =>
      val target = committed.find(_.version == version).getOrElse(
        throw new IllegalArgumentException(
          s"hub at $path has no version $version"))
      val base = committed.last
      require(base.nBuckets == target.nBuckets &&
          base.bucketCols == target.bucketCols,
        s"hub at $path changed bucket layout since version $version — " +
          "cannot restore across a layout change")
      if (base.version == version) Done(version)
      else {
        val next = base.version + 1
        // SELF-ANCHORING manifest (statsNew = the full map at `version`):
        // a restore re-references dirs that intermediate commits may have
        // dropped, so the delta-chain continuity the incremental log
        // leans on does not hold here — carrying the stats inline keeps
        // every reader's reconstruction exact. O(files at target) once,
        // like a checkpoint; no data moves at all.
        //
        // DV tombstones must cover every file key a reader's carried fold
        // can still contain — NOT just base.dvs: Version.dvs restricts to
        // the base's referenced dirs, so a vector on a file whose
        // dir a later rewrite dropped (the rewrite materialized the
        // delete) has left base.dvs yet still rides the dvDelta fold. A
        // restore to a version that re-references that dir would re-apply
        // the stale vector and silently hide rows the target contained.
        // loadCarried(next) IS the fold a reader of the restored version
        // reconstructs (pre-restriction), so tombstoning its full key set
        // minus the target's live vectors is exact.
        val foldKeys = loadCarried(spark, path, next).dvs.keySet
        Stage(Version(next,
          System.currentTimeMillis(), target.rows, None,
          target.nBuckets, target.groups, target.bucketCols,
          target.bucketRows, schemaJson = target.schemaJson,
          statsNew = target.fileStats,
          dvNew = (foldKeys -- target.dvs.keySet).iterator
            .map(f => f -> (Seq.empty: Seq[Long])).toMap ++
            target.dvs,
          checks = target.checks), None)
      }
    }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` parity): commit
    * the source's tip snapshot as version 1 of a NEW table at `targetPath`
    * whose manifest references the source's data dirs by FULLY-QUALIFIED
    * path — zero data copied at any size. The clone then evolves
    * independently: its writes land under its own `data/`, touched buckets
    * detach from the source while untouched ones stay shared, and source
    * writes never affect the clone (they create new roots; the cloned refs
    * point at the old ones). Every path in the hub resolves refs through
    * `new Path(tableRoot, ref)`, where a qualified ref wins outright, so
    * reads, merges, restores and the DSv2 planner all work unchanged; the
    * clone's vacuum only ever sweeps its OWN `data/` (external refs are
    * never candidates).
    *
    * CAVEAT (exactly Delta's): the source does not know its clones.
    * Vacuuming the SOURCE can delete dirs a clone still references once
    * later source commits drop them — run clones on sources whose history
    * you retain, or OPTIMIZE the clone (rewrites it onto its own files) to
    * detach fully.
    *
    * The manifest is self-anchoring like a restore's (`statsNew` = the
    * full rekeyed map): there is no prior chain in the target's log to
    * fold from.
    */
  /** Adopt an existing plain-parquet directory as version 1 of a FLAT
    * versioned hub — Delta's `CONVERT TO DELTA` analogue, the migration
    * on-ramp for a lake that predates the log. The data files are RENAMED
    * into the log's `data/1-<uuid>` root (a metadata-only move on any
    * real filesystem — zero bytes copied at any table size), one footer
    * pass collects the manifest's row counts and per-file skipping stats,
    * and the table-creating commit lands like any other; every subsequent
    * operation (upsert, time travel, DELETE, OPTIMIZE, the DSv2
    * connector) works immediately. Scope guards: refused if a log already
    * exists, if the dir holds non-parquet data files, or if it holds
    * subdirectories (a hive-partitioned source should be read and
    * re-landed through the normal write path — adopting partition dirs
    * flat would silently drop the partition columns). NOT concurrent-safe
    * with writers to the source dir — stop the old pipeline first
    * (Delta's CONVERT carries the same caveat).
    */
  def convert(spark: SparkSession, path: String): Int = {
    val fs = fileSystem(spark, path)
    checkAtomicCommitScheme(path)
    require(history(spark, path).isEmpty,
      s"$path is already a versioned hub")
    val root = new Path(path)
    require(fs.exists(root), s"$path does not exist")
    val entries = fs.listStatus(root).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
    require(entries.forall(_.isFile),
      s"$path holds subdirectories — convert adopts FLAT parquet dirs " +
        "only (re-land partitioned sources through the write path)")
    val files = entries.map(_.getPath)
    require(files.nonEmpty, s"$path holds no data files to adopt")
    val stray = files.filterNot(_.getName.endsWith(".parquet"))
    require(stray.isEmpty,
      s"$path holds non-parquet data files: ${stray.take(3).mkString(", ")}")
    // validate every footer BEFORE moving anything: a *.parquet file with
    // a corrupt/truncated footer must fail while the source dir is still
    // intact (mergeSchema parses each file's footer)
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(path).schema
    adoptAsV1(spark, fs, path, files.map(f => (f, f.getName)), schema,
      identity, "convert")
  }

  /** Shared adoption tail of [[convert]]/[[convertPartitioned]]: rename
    * `planned` (source file → adopted basename) into a fresh v1 data
    * root, collect footer stats (caller may `augment` them, e.g. with
    * name-encoded partition values), and land the table-creating commit.
    *
    * Renames are metadata-only but SEQUENTIAL RPCs would bound a
    * 100k-file adoption at minutes against a DFS namenode — they issue
    * from a bounded driver-side pool (the namenode serializes internally;
    * the pool just hides round-trips). Any failure restores the original
    * layout: `Await.result` throws on the FIRST failed future while
    * siblings may still be renaming, and rollback must not run
    * concurrently with them (it would snapshot `moved` mid-flight and
    * then sweep dst under a straggler's landing file), so the finally
    * block BLOCKS on pool termination before the exception reaches the
    * rollback path. Rollback itself is best-effort but CHECKED: every
    * rename-back return is tested and dst is deleted non-recursively
    * only once fully emptied — if even one file could not be restored,
    * dst (and the file in it) survives for manual recovery rather than
    * being gutted by a recursive delete.
    */
  private def adoptAsV1(spark: SparkSession, fs: FileSystem, path: String,
      planned: Seq[(Path, String)],
      schema: org.apache.spark.sql.types.StructType,
      augment: Map[String, FileStats.FileStat] =>
        Map[String, FileStats.FileStat],
      label: String): Int = {
    val root = new Path(path)
    val dataDir = freshRoot(1)
    val dst = new Path(resolve(path, dataDir))
    fs.mkdirs(dst)
    val moved = new java.util.concurrent.ConcurrentLinkedQueue[(Path, String)]()
    def rollback(): Unit =
      try {
        var allBack = true
        moved.forEach { case (src, name) =>
          if (!fs.rename(new Path(dst, name), src)) allBack = false
        }
        if (allBack) {
          fs.delete(dst, false) // non-recursive: refuses unless emptied
          fs.delete(new Path(resolve(path, "data")), false)
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, planned.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(planned.map { case (src, name) =>
          scala.concurrent.Future {
            require(fs.rename(src, new Path(dst, name)),
              s"rename $src failed")
            moved.add((src, name))
          }
        }),
        scala.concurrent.duration.Duration.Inf)
      finally {
        pool.shutdown()
        pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
      }
      val fstats = augment(FileStats.collect(spark, fs, root, dst))
      if (!commit(fs, path, Version(1,
          System.currentTimeMillis(), fstats.values.map(_.rows).sum,
          groups = Map(FlatGroup -> Seq(dataDir)),
          schemaJson = Some(Version.nullable(schema).json),
          statsNew = fstats, checks = Map.empty))) {
        rollback()
        throw new IllegalStateException(
          s"$label lost a commit race at $path — was a writer still active?")
      }
    } catch {
      case e: IllegalStateException => throw e // already rolled back
      case scala.util.control.NonFatal(e) => rollback(); throw e
    }
    1
  }

  /** [[convert]] for HIVE-PARTITIONED parquet dirs — Delta's
    * `CONVERT TO DELTA ... PARTITIONED BY` parity, and the adoption
    * on-ramp for the engine's own RAW zone ([[RawWriter]] writes
    * `ingest_date=`-partitioned dirs). Zero bytes copied at any table
    * size: each leaf file is RENAMED into the flat `data/1-<uuid>` root
    * with its partition values folded into the FILE NAME
    * (`ingest_date=2024-01-02;part-0.parquet`), because the files
    * themselves never held the partition columns. Three things make the
    * adopted table a first-class hub immediately:
    *
    *  - the recorded snapshot schema carries the partition columns (types
    *    from Spark's own partition inference) marked [[PathColKey]], so
    *    every read path re-materializes per-row values from the file name
    *    via [[injectPathCols]] — codegen'd, no discovery, no layout
    *    special cases (a hive layout KEPT under the data root would
    *    poison every mixed-dir snapshot read with Spark's
    *    CONFLICTING_DIRECTORY_STRUCTURES);
    *  - the commit manifest records min=max=value skipping stats for the
    *    partition columns per file, so partition-predicate pruning works
    *    from the manifest alone — same strength the hive dirs gave;
    *  - later rewrites (OPTIMIZE, DELETE, merge) read injected values and
    *    write them physically, so the table converges to ordinary files.
    *
    * Scope guards: refuses non-`col=value` layouts, inconsistent
    * partition keys across levels, `__HIVE_DEFAULT_PARTITION__` (a null
    * partition value cannot round-trip through a name), and values
    * carrying the name-encoding's own delimiters (`;`) or hive percent
    * escapes (`%` — an escaped value would need unescaping the read path
    * deliberately does not do). Same caveats as [[convert]]: not
    * concurrent-safe with writers to the source dir.
    */
  def convertPartitioned(spark: SparkSession, path: String,
      // SQL `PARTITIONED BY (...)` declaration: when present, the
      // DISCOVERED partition columns must match it exactly (order
      // included) — a mis-declared layout fails fast, source intact
      expectCols: Option[Seq[String]] = None): Int = {
    val fs = fileSystem(spark, path)
    checkAtomicCommitScheme(path)
    require(history(spark, path).isEmpty,
      s"$path is already a versioned hub")
    val root = new Path(path)
    require(fs.exists(root), s"$path does not exist")
    def visible(ss: Seq[org.apache.hadoop.fs.FileStatus]) =
      ss.filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
    val top = visible(fs.listStatus(root).toSeq)
    require(top.nonEmpty, s"$path holds nothing to adopt")
    require(top.forall(_.isDirectory),
      s"$path holds top-level data files — convertPartitioned adopts " +
        "hive-layout dirs only (use convert for flat dirs)")
    def kv(name: String): (String, String) = {
      val i = name.indexOf('=')
      require(i > 0, s"$name is not a col=value partition directory")
      val (c, v) = (name.substring(0, i), name.substring(i + 1))
      require(v != "__HIVE_DEFAULT_PARTITION__",
        s"$path has a null partition value under $name — a name-encoded " +
          "column cannot represent null; re-land through the write path")
      // an empty value is indistinguishable from "no token" to the
      // reader's regexp (nullif(extract, '')) — adopting it would read
      // every row of the partition as NULL, silent row loss under
      // `col = ''` predicates
      require(v.nonEmpty,
        s"$path has an empty partition value under $name — the file-name " +
          "encoding cannot represent it; re-land through the write path")
      for (bad <- Seq(';', '%'))
        require(!c.contains(bad) && !v.contains(bad),
          s"partition segment $name contains '$bad' — unsupported by the " +
            "file-name encoding (hive-escaped values need a re-land)")
      // the column NAME feeds col()/withColumn downstream: '.' or '`'
      // would parse as a nested-field path / quoting and whitespace
      // breaks the reader's regexp — refuse BEFORE any file moves, not
      // at first read of an already-adopted hub
      for (bad <- Seq('.', '`', ' ', '\t'))
        require(!c.contains(bad),
          s"partition column name '$c' contains '$bad' — not addressable " +
            "as a plain column reference; rename the directory key")
      (c, v)
    }
    // walk to the leaves: every level all-dirs with ONE consistent key,
    // leaf dirs all-files
    def walk(dir: Path, spec: List[(String, String)])
        : Seq[(org.apache.hadoop.fs.FileStatus, List[(String, String)])] = {
      val entries = visible(fs.listStatus(dir).toSeq)
      val (ds, fls) = entries.partition(_.isDirectory)
      require(ds.isEmpty || fls.isEmpty,
        s"$dir mixes files and partition subdirectories")
      if (ds.nonEmpty) {
        val kvs = ds.map(d => kv(d.getPath.getName))
        require(kvs.map(_._1).distinct.size == 1,
          s"$dir mixes partition keys: ${kvs.map(_._1).distinct.mkString(", ")}")
        ds.zip(kvs).flatMap { case (d, p) => walk(d.getPath, spec :+ p) }
      } else fls.map(f => (f, spec))
    }
    val leaves = walk(root, Nil)
    require(leaves.nonEmpty, s"$path holds no data files to adopt")
    val keyChains = leaves.map(_._2.map(_._1)).distinct
    require(keyChains.size == 1,
      s"$path has inconsistent partition depths/keys: $keyChains")
    val partCols = keyChains.head
    for (exp <- expectCols) require(partCols == exp,
      s"$path is partitioned by (${partCols.mkString(", ")}), " +
        s"declared PARTITIONED BY (${exp.mkString(", ")})")
    val stray = leaves.map(_._1.getPath)
      .filterNot(_.getName.endsWith(".parquet"))
    require(stray.isEmpty,
      s"$path holds non-parquet data files: ${stray.take(3).mkString(", ")}")
    // full schema WITH partition columns and their inferred types, from
    // Spark's own discovery over the still-intact source layout — this
    // also validates every footer BEFORE anything moves
    val full = spark.read.option("mergeSchema", "true").parquet(path).schema
    for (c <- partCols) require(full.fieldNames.contains(c),
      s"partition column $c missing from the discovered schema")
    val schema = org.apache.spark.sql.types.StructType(full.fields.map(f =>
      if (partCols.contains(f.name)) f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putBoolean(PathColKey, true).build())
      else f))
    // partition value → the manifest stats value space (FileStats header:
    // dates as epoch days, integrals widened to Long); None = no stat
    // for that column (never prunes, still injects). Conversions are
    // Try-wrapped: Spark's partition INFERENCE is laxer than these
    // parsers (e.g. it accepts non-padded dates `dt=2024-3-1` that strict
    // LocalDate.parse refuses), and an unconvertible value must degrade
    // to "no skipping stat" — the read-side cast still materializes it —
    // never abort a conversion whose files have already moved
    import org.apache.spark.sql.types._
    def statValue(dt: DataType, raw: String): Option[Any] =
      scala.util.Try[Any](dt match {
        case ByteType | ShortType | IntegerType | LongType => raw.toLong
        case FloatType | DoubleType => raw.toDouble
        case DateType =>
          java.sql.Date.valueOf(raw).toLocalDate.toEpochDay
        case StringType => raw
        case BooleanType => raw.toBoolean
        case _ => throw new IllegalArgumentException(dt.toString)
      }).toOption
    // (source file, adopted name folding the partition values)
    val planned = leaves.map { case (f, spec) =>
      val name = spec.map { case (c, v) => s"$c=$v;" }.mkString +
        f.getPath.getName
      (f.getPath, name, spec)
    }
    require(planned.map(_._2).distinct.size == planned.size,
      s"$path partition layout folds two files onto one adopted name")
    val typeOf = partCols.map(c => c -> full(c).dataType).toMap
    val partStats = planned.map { case (_, name, spec) =>
      name -> spec.flatMap { case (c, v) =>
        statValue(typeOf(c), v).map(sv =>
          c -> FileStats.ColStat(Some(sv), Some(sv), Some(0L)))
      }.toMap
    }.toMap
    val committed = adoptAsV1(spark, fs, path,
      planned.map { case (src, name, _) => (src, name) }, schema,
      // fold each file's name-encoded partition values into its footer
      // stats as min=max (⇒ manifest skipping on partition predicates)
      fstats => fstats.map { case (rel, st) =>
        val name = rel.substring(rel.lastIndexOf('/') + 1)
        rel -> st.copy(cols = st.cols ++ partStats.getOrElse(name, Map.empty))
      },
      "convertPartitioned")
    // the empty partition-dir husks are metadata left behind by design
    // (renames moved only leaf files); sweep them so the adopted root
    // holds exactly the log + data layout every other hub has
    for (d <- top) try fs.delete(d.getPath, true)
    catch { case scala.util.control.NonFatal(_) => () }
    committed
  }

  def cloneTable(spark: SparkSession, sourcePath: String,
      targetPath: String,
      // CLONE ... VERSION AS OF (Delta parity): clone a historical
      // snapshot instead of the tip — same zero-copy manifest reference
      asOf: Option[Int] = None): Int = {
    val src = versionAt(spark, sourcePath, asOf)
    val sfs = fileSystem(spark, sourcePath)
    val tfs = fileSystem(spark, targetPath)
    require(sfs.makeQualified(new Path(sourcePath)) !=
        tfs.makeQualified(new Path(targetPath)),
      "clone target must differ from the source table")
    require(latest(spark, targetPath).isEmpty,
      s"clone target $targetPath already has committed versions")
    def abs(rel: String): String =
      sfs.makeQualified(new Path(resolve(sourcePath, rel))).toString
    val v = Version(1, System.currentTimeMillis(),
      src.rows, None, src.nBuckets,
      src.groups.map { case (g, ds) => g -> ds.map(abs) },
      src.bucketCols, src.bucketRows,
      schemaJson = src.schemaJson,
      statsNew = src.fileStats.map { case (f, st) => abs(f) -> st },
      dvNew = src.dvs.map { case (f, ps) => abs(f) -> ps },
      checks = src.checks)
    if (!commit(tfs, targetPath, v))
      throw new IllegalStateException(
        s"clone target $targetPath gained a commit concurrently — aborting")
    1
  }

  /** Commit a SCHEMA-ONLY new version: same data dirs, same rows, new
    * recorded snapshot schema — the zero-copy `ALTER TABLE` shape (Delta's
    * ADD/DROP COLUMN never rewrite a file either). Old files read through
    * [[readDirs]]'s recorded-schema projection: an added column pads to
    * NULL, a dropped column is simply not read, a widened column upcasts
    * in the parquet reader. `alter` receives the FRESH base's snapshot
    * schema on every commit attempt, so its validation (duplicate names,
    * dropped bucket columns) races correctly against concurrent writers;
    * the result is normalized all-nullable like every recorded schema.
    *
    * Chain-safety of the incremental log: the commit references exactly
    * the base's dirs and carries `statsNew = empty`, so readers' carried
    * fold (checkpoint + deltas) passes through it unchanged.
    */
  def alterSchema(spark: SparkSession, path: String,
      alter: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType,
      renameCols: Map[String, String] = Map.empty,
      alterChecks: Map[String, String] => Map[String, String] = identity)
      : Int = commitLoop(spark, path) { committed =>
    val base = tip(committed, path)
    val newSchema = Version.nullable(alter(snapshotSchema(spark, path, base)))
    // RENAME COLUMN of a bucket-ROUTING column renames the recorded
    // routing too: routing is by logical name (writers and probes pass
    // the names users see), and each manifest is self-consistent — time
    // travel to a pre-rename version shows the old routing names
    val bucketCols = base.bucketCols.map(_.map(c =>
      renameCols.collectFirst {
        case (from, to) if from.equalsIgnoreCase(c) => to
      }.getOrElse(c)))
    Stage(Version(base.version + 1,
      System.currentTimeMillis(), base.rows, None, base.nBuckets,
      base.groups, bucketCols, base.bucketRows,
      schemaJson = Some(newSchema.json),
      statsCarried = () => base.fileStats,
      dvCarried = () => base.dvs,
      checks = alterChecks(base.checks)), None)
  }

  /** Is `from → to` a type change the PARQUET READER can apply to existing
    * files without a rewrite? Exactly the probed support set of Spark
    * 4.1's vectorized reader: integral→wider-integral, integral→double
    * (EXCEPT long — an int64 page under a double read schema throws
    * PARQUET_COLUMN_DATA_TYPE_MISMATCH), and float→double. Nothing
    * upcasts INTO float (int32 pages under a float schema throw too),
    * even though Spark's own `Cast.canUpCast` — the check SQL ALTER runs
    * first — follows the looser SQL numeric-precedence ladder and lets
    * int→float / long→double through to us. Deliberately NARROWER than
    * the write-side ladder ([[HubWriter.widen]] sends mismatches to
    * string): a write REWRITES data so any widening is fine there, but an
    * `ALTER COLUMN TYPE` leaves files untouched, and e.g. an int32 file
    * under a STRING read schema fails at scan time.
    */
  def isZeroCopyWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val integrals: Seq[DataType] =
      Seq(ByteType, ShortType, IntegerType, LongType)
    val (i, j) = (integrals.indexOf(from), integrals.indexOf(to))
    (i >= 0 && j > i) ||
      (i >= 0 && from != LongType && to == DoubleType) ||
      (from == FloatType && to == DoubleType)
  }

  /** DELETE the rows matching `cond` as one committed version (SQL
    * `DELETE FROM ... WHERE` semantics: rows where `cond` is TRUE go; rows
    * where it is FALSE or NULL stay). A few matches become deletion
    * vectors ([[dvDeleteAttempt]]); otherwise ONLY the file groups that
    * contain matches are rewritten (everything else shares structurally)
    * — and `candidateBuckets` (candidate groups), when
    * supplied by a caller that can consult a manifest's file stats (the
    * DSv2 connector), bounds even the detection scan. It is a FUNCTION of
    * the base version, not a precomputed set: the commit-retry loop
    * re-reads a fresh base on every attempt, and a set computed against an
    * earlier tip would silently skip rows a concurrent upsert landed in a
    * bucket whose OLD stats proved no-match — a wrong answer under
    * concurrency. Each attempt therefore recomputes the candidates against
    * the very snapshot it is about to rewrite. A DELETE that matches
    * nothing commits nothing and returns the current version.
    */
  def deleteWhere(
      spark: SparkSession,
      path: String,
      cond: org.apache.spark.sql.Column,
      candidateBuckets: Option[Version => Set[Int]] = None
  ): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val keep = !coalesce(cond, lit(false))
    commitLoop(spark, path) { committed =>
      val base = tip(committed, path)
      val cand = candidates(base, candidateBuckets)
      if (cand.isEmpty) Done(base.version)
      // DELETION-VECTOR fast path (Delta DV shape): when the matches are
      // FEW, record their (file, row index) addresses in the manifest
      // instead of rewriting whole groups — a surgical delete of k rows
      // from a 100 TB table becomes a manifest-only commit, O(k) bytes,
      // zero data files written. Larger deletes (and any snapshot the
      // addressing cannot be proven sound for) fall through to the group
      // rewrite; losing the commit race costs nothing (no files to clean
      // up).
      else dvDeleteAttempt(spark, path, base, cand, cond).getOrElse(
        rewriteMatching(spark, path, base, cand, cond)(_.filter(keep)))
    }
  }

  /** The candidate file groups of `base` for a row-level command, sorted:
    * the caller's stats-pruned set, or every group.
    */
  private def candidates(base: Version,
      candidateGroups: Option[Version => Set[Int]]): Seq[Int] =
    candidateGroups.fold(base.groups.keys.toSeq)(
      _(base).toSeq.filter(base.groups.contains)).sorted

  /** Rewrite, through `rewrite`, the candidate groups of `base` holding a
    * row matching `cond`; one tagged read serves detection and rewrite. A
    * lone candidate skips the detection job, so a miss there commits an
    * unchanged rewrite.
    */
  private def rewriteMatching(spark: SparkSession, path: String,
      base: Version, cand: Seq[Int], cond: org.apache.spark.sql.Column)(
      rewrite: DataFrame => DataFrame): Step = {
    import org.apache.spark.sql.functions.col
    def stage(rows: DataFrame, touched: Seq[Int]): Stage =
      stageGroups(spark, path, Some(base), rewrite(rows), touched,
        shape = clustered(base.nBuckets))
    if (cand.size == 1) return stage(readGroups(spark, path, base, cand), cand)
    val tagged = graft.GraftSession.persistForReuse(
      readGroups(spark, path, base, cand))
    try {
      val touched = tagged.filter(cond).select(BucketCol).distinct()
        .collect().map(_.getInt(0)).sorted.toIndexedSeq
      if (touched.isEmpty) Done(base.version)
      else stage(
        tagged.filter(col(BucketCol).isin(touched.map(Integer.valueOf): _*)),
        touched)
    } finally tagged.unpersist()
  }

  /** DV commits are capped at this many positions (per commit): beyond
    * it, rewriting the touched groups amortizes better than letting
    * manifests and checkpoints carry ever-larger vectors. Disable DVs
    * entirely with `spark.graft.hub.dv.enabled = false`.
    */
  private[graft] val DvMaxPositions = 50000

  /** The manifest-only DV delete against `base`: `Done` when nothing
    * matches, the DV commit's `Stage`, or None to fall through to the
    * group rewrite. Sound only when every matched file resolves through a
    * GLOBALLY UNIQUE basename (the [[applyDv]] join key) in the snapshot's
    * file-stats key space — Spark part files embed a per-job UUID, so this
    * holds for every file the hub's own writers produced; anything
    * unprovable (legacy manifests without stats, a colliding basename)
    * falls back to the rewrite, never guesses.
    */
  private def dvDeleteAttempt(spark: SparkSession,
      path: String, base: Version, cand: Seq[Int],
      cond: org.apache.spark.sql.Column): Option[Step] = {
    if (base.schema.isEmpty ||
        !spark.conf.get("spark.graft.hub.dv.enabled", "true").toBoolean)
      return None
    // tables created before the reserved-name guard may carry a column
    // in the internal __graft_* namespace the DV address columns live in;
    // the rewrite path never tags rows, so fall back rather than let
    // withColumn silently replace (and applyDv later drop) user data
    if (base.schema.exists(_.fieldNames.exists(
        _.toLowerCase(java.util.Locale.ROOT).startsWith("__graft_"))))
      return None
    // surgical deletes only: beyond an absolute position cap AND a small
    // fraction of the live table, rewriting amortizes better than letting
    // every manifest/checkpoint carry the vectors — and a delete that
    // empties whole buckets (TRUNCATE-like) should DROP their dirs, which
    // only the rewrite can express
    val dvMax = math.min(DvMaxPositions.toLong, base.rows / 10).toInt
    if (dvMax <= 0) return None
    // ONE job (a limit-collect scans growing partition batches in
    // successive jobs): each task ships at most dvMax + 1 positions
    val hits = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var over = false
    spark.sparkContext.runJob(
      readDirsWithPos(spark, base,
          cand.flatMap(base.groups(_)).map(resolve(path, _)))
        .filter(cond).select(DvFileCol, DvPosCol).rdd
        .map(r => (r.getString(0), r.getLong(1))),
      (it: Iterator[(String, Long)]) => it.take(dvMax + 1).toArray,
      (_: Int, part: Array[(String, Long)]) => if (!over) {
        hits ++= part
        over = hits.size > dvMax
      })
    if (over) return None
    if (hits.isEmpty) return Some(Done(base.version))
    // DV key → live rel path, provably unique table-wide
    val live = base.fileStats.keySet
    if (live.isEmpty) return None
    val byKey = live.groupBy(dvKeyOf)
    if (byKey.exists(_._2.size > 1)) return None
    val matched = hits.groupBy(_._1).map { case (n, ps) =>
      n -> ps.map(_._2).toIndexedSeq.sorted
    }
    if (!matched.keys.forall(byKey.contains)) return None
    val dvNewEntries: Map[String, Seq[Long]] = matched.map { case (n, ps) =>
      val rel = byKey(n).head
      // existing DV rows never re-match (the position read is DV-applied),
      // so old ∪ new is a disjoint union
      rel -> ((base.dvs.getOrElse(rel, Seq.empty) ++ ps).sorted: Seq[Long])
    }
    val newlyDeleted = hits.size.toLong
    val decByBucket: Map[Int, Long] = matched.toSeq.flatMap { case (n, ps) =>
      val rel = byKey(n).head
      base.buckets.collectFirst {
        case (b, ds) if ds.exists(d => rel.startsWith(d + "/")) =>
          b -> ps.size.toLong }
    }.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
    val bucketRows = base.bucketRows.map { case (b, r) =>
      b -> (r - decByBucket.getOrElse(b, 0L)) }
    Some(Stage(Version(base.version + 1,
      System.currentTimeMillis(), base.rows - newlyDeleted, None,
      base.nBuckets, base.groups, base.bucketCols, bucketRows,
      schemaJson = base.schemaJson,
      statsNew = Map.empty,
      statsCarried = () => base.fileStats,
      dvNew = dvNewEntries,
      dvCarried = () => base.dvs,
      checks = base.checks), None))
  }

  /** UPDATE the rows matching `cond` as one committed version (SQL
    * `UPDATE ... SET ... WHERE` semantics: every assignment evaluates
    * against the PRE-update row — one projection, not a fold — and rows
    * where `cond` is FALSE or NULL keep their values). ONLY the file
    * groups holding matches are rewritten — a flat hub's one group folds
    * its dirs into one — with `candidateBuckets` (candidate groups, a
    * function of the fresh base, recomputed per
    * commit retry exactly like [[deleteWhere]]) bounding even the
    * detection scan. Updating a bucket-ROUTING column is refused: the
    * rewrite keeps rows in their dirs, and a re-routed value would strand
    * the row where later merges of its new key cannot find it.
    */
  def updateWhere(
      spark: SparkSession,
      path: String,
      cond: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)],
      candidateBuckets: Option[Version => Set[Int]] = None
  ): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(sets.nonEmpty, "UPDATE requires at least one SET assignment")
    // generated columns recompute from their expression over the
    // post-update row — a direct SET is refused, as in Delta. The
    // generated set is CREATE-frozen (no ALTER can add one), so one
    // entry-time probe races with nothing.
    val v0 = latest(spark, path)
    val genSet = v0.map(generatedCols).getOrElse(Set.empty)
    for (v <- v0) {
      val genHit = sets.map(_._1).filter(c =>
        genSet.contains(c.toLowerCase(java.util.Locale.ROOT)))
      require(genHit.isEmpty,
        s"cannot UPDATE generated column(s) ${genHit.mkString(", ")} — they " +
          "recompute from their GENERATED ALWAYS AS expression; update the " +
          "source columns instead")
      // identity values are birth-assigned and immutable (Delta parity)
      val idCols = identitySpecs(v.schema)
        .map(_._1.name.toLowerCase(java.util.Locale.ROOT)).toSet
      val idHit = sets.map(_._1).filter(c =>
        idCols.contains(c.toLowerCase(java.util.Locale.ROOT)))
      require(idHit.isEmpty,
        s"cannot UPDATE identity column(s) ${idHit.mkString(", ")} — " +
          "GENERATED AS IDENTITY values are assigned at insert and immutable")
    }
    val hit = coalesce(cond, lit(false))
    val setMap = sets.toMap
    require(setMap.size == sets.size,
      s"duplicate SET column among ${sets.map(_._1)}")
    def applySets(df: DataFrame): DataFrame = {
      val missing = setMap.keySet -- df.columns
      require(missing.isEmpty, s"SET columns $missing not in the snapshot")
      df.select(df.columns.toIndexedSeq.map { c =>
        setMap.get(c) match {
          case Some(v) => when(hit, v).otherwise(col(c)).as(c)
          // a generated column on an updated row goes NULL here so the
          // write path recomputes it from the POST-update values (its
          // carried value reflects the pre-update row); un-hit rows keep
          // their (still valid) materialized value
          case None if genSet.contains(
              c.toLowerCase(java.util.Locale.ROOT)) =>
            when(hit, lit(null).cast(df.schema(c).dataType))
              .otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    }
    commitLoop(spark, path) { committed =>
      val base = tip(committed, path)
      for (bc <- base.bucketCols)
        require(!bc.exists(setMap.contains),
          s"cannot UPDATE bucket routing column(s) " +
            s"${bc.filter(setMap.contains).mkString(", ")} — rows would " +
            "leave the bucket later merges of their key route to")
      val cand = candidates(base, candidateBuckets)
      if (cand.isEmpty) Done(base.version)
      // a SET value wider than its column widens the recorded schema (the
      // hub's documented merge behavior) — untouched groups keep their
      // narrower files, reads align
      else rewriteMatching(spark, path, base, cand, cond)(rows =>
        enforceChecks(applySets(rows), Some(base)))
    }
  }

  /** The rows a stream tailing this hub receives for the version step
    * (fromVersion, toVersion]: content AS OF toVersion of every data dir
    * toVersion's manifest references that fromVersion's does not —
    * O(changed groups) per step via structural sharing, and just the batch
    * after a keyless append ([[graft.sources.HubStreamSource]]'s batch
    * body). Falls back to the full toVersion snapshot when the step cannot
    * be proven incremental (layout changes, an empty side, vacuumed
    * fromVersion manifest, no recorded schema) — a superset re-delivery,
    * safe for upsert/dedupe consumers.
    */
  def changedDirsRead(
      spark: SparkSession,
      path: String,
      fromVersion: Int,
      toVersion: Int): DataFrame = {
    val hist = history(spark, path)
    val b = hist.find(_.version == toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"hub at $path has no version $toVersion"))
    val aOpt = if (fromVersion <= 0) None
      else hist.find(_.version == fromVersion)
    val incremental = aOpt.exists(a =>
      a.groups.nonEmpty && b.groups.nonEmpty &&
        a.nBuckets == b.nBuckets && a.bucketCols == b.bucketCols &&
        b.schema.isDefined)
    if (!incremental) read(spark, path, Some(toVersion))
    else {
      val sb = b.schema.get
      val changed = b.dirs.filterNot(aOpt.get.dirs.toSet)
      if (changed.isEmpty) emptyFrame(spark, sb)
      else alignTo(readDirs(spark, b, changed.map(resolve(path, _))), sb)
    }
  }

  def changes(
      spark: SparkSession,
      path: String,
      keys: Seq[String],
      fromVersion: Int,
      toVersion: Int
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    val (joined, _, nonKey) = changedKeys(spark, path, keys, fromVersion,
      toVersion)
    joined.select(keys.map(col) ++
      nonKey.map(c => coalesce(col(s"_new.$c"), col(s"_old.$c")).as(c)) :+
      col("_ct").as("_change_type"): _*)
  }

  /** (keys whose state differs — `_old`/`_new` images, `_ct` ∈ insert |
    * delete | update —, columns, non-key columns): [[changes]]' join.
    */
  private def changedKeys(spark: SparkSession, path: String,
      keys: Seq[String], fromVersion: Int, toVersion: Int)
      : (DataFrame, Seq[String], Seq[String]) = {
    require(keys.nonEmpty, "change feed requires hub primary keys")
    import org.apache.spark.sql.functions._
    val (ra, rb) = changedSnapshots(spark, path, fromVersion, toVersion)
    val (a, b) = HubWriter.reconcileSchemas(ra, rb)
    val cols = b.columns.toSeq
    val nonKey = cols.filterNot(keys.contains)
    val oldSide = a.select(
      keys.map(col) :+ struct(cols.map(col): _*).as("_old"): _*)
    val newSide = b.select(
      keys.map(col) :+ struct(cols.map(col): _*).as("_new"): _*)
    (oldSide.join(newSide, keys, "full_outer")
      .withColumn("_ct",
        when(col("_old").isNull, lit("insert"))
          .when(col("_new").isNull, lit("delete"))
          .when(nonKey.map(c => !(col(s"_new.$c") <=> col(s"_old.$c")))
            .reduceOption(_ || _).getOrElse(lit(false)), lit("update"))
          .otherwise(lit("unchanged")))
      .filter(col("_ct") =!= "unchanged"), cols, nonKey)
  }

  /** Delta-CDF-style change feed (`readChangeFeed` analogue): like
    * [[changes]], but an update emits BOTH its before and after images as
    * separate rows (`_change_type` ∈ insert | delete | update_preimage |
    * update_postimage) — the shape incremental view maintenance needs,
    * because an aggregate delta must subtract the old values and add the
    * new ones (see [[graft.operators.Materialize]]). Same single
    * full-outer key join as [[changes]]; the 1-or-2-row expansion is a
    * narrow explode, not a second scan.
    */
  def changesCDF(
      spark: SparkSession,
      path: String,
      keys: Seq[String],
      fromVersion: Int,
      toVersion: Int
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    val (joined, cols, _) = changedKeys(spark, path, keys, fromVersion,
      toVersion)
    val expanded = joined.select(explode(
      when(col("_ct") === "insert",
        array(struct(col("_new").as("row"), lit("insert").as("t"))))
        .when(col("_ct") === "delete",
          array(struct(col("_old").as("row"), lit("delete").as("t"))))
        .otherwise(array(
          struct(col("_old").as("row"), lit("update_preimage").as("t")),
          struct(col("_new").as("row"), lit("update_postimage").as("t")))))
      .as("_e"))
    expanded.select(
      cols.map(c => col(s"_e.row.$c").as(c)) :+
        col("_e.t").as("_change_type"): _*)
  }

  /** Compaction as a COMMITTED version (Delta OPTIMIZE's shape): rewrite
    * the flat group — every dir its appends added — into one dir of
    * ≈`targetFileRows`-row files and commit the result through the normal
    * log, so readers never see a half-compacted table and time travel to
    * pre-compaction versions still works. Runs through the same
    * optimistic protocol — a concurrent upsert simply wins or loses the
    * version race.
    */
  def optimize(
      spark: SparkSession,
      path: String,
      targetFileRows: Long = 1024 * 1024
  ): Int = commitLoop(spark, path) { committed =>
    val v = requireFlat(committed, path, "optimize")
    val nFiles = math.max(1,
      math.ceil(v.rows.toDouble / targetFileRows).toInt)
    rewriteGroups(spark, path, v, v.groups.keys.toSeq, _.repartition(nFiles))
  }

  /** Stage a layout-only rewrite of `base`'s `chosen` groups through
    * `shape`, one dir per group: content unchanged, deletion vectors
    * materialized (a group whose every row was DV-deleted drops out).
    */
  private def rewriteGroups(spark: SparkSession, path: String, base: Version,
      chosen: Seq[Int], shape: DataFrame => DataFrame): Step =
    if (chosen.isEmpty) Done(base.version)
    else stageGroups(spark, path, Some(base),
      readGroups(spark, path, base, chosen), chosen, shape = shape)

  /** Per-bucket small-file compaction for BUCKETED hubs — [[optimize]]'s
    * counterpart (which serves flat hubs only). High-frequency streaming
    * merges leave each touched bucket dir with one small file per shuffle
    * task per trigger; this rewrites the selected buckets' current
    * contents into single-file dirs under a new COMMITTED version, sharing
    * every untouched bucket's dir structurally (like a Delta OPTIMIZE
    * limited to chosen partitions). Commits through [[commitLoop]];
    * concurrent upserts simply win or lose the version race.
    */
  def compactBuckets(
      spark: SparkSession,
      path: String,
      buckets: Option[Seq[Int]] = None
  ): Int = commitLoop(spark, path) { committed =>
    val base = tip(committed, path, " to compact")
    require(base.nBuckets.isDefined,
      s"compactBuckets serves bucketed hubs; $path is flat — use optimize")
    // an explicitly requested id outside the LAYOUT's range is a caller
    // error (a typo'd maintenance target must not report clean success);
    // a valid id whose bucket holds no live rows is a legitimate no-op
    val n = base.nBuckets.get
    for (req <- buckets) {
      val unknown = req.filterNot(b => b >= 0 && b < n)
      require(unknown.isEmpty,
        s"bucket(s) ${unknown.mkString(", ")} are outside the layout of " +
          s"$path (nBuckets = $n)")
    }
    // one writer task → one file per bucket dir (the compaction point)
    rewriteGroups(spark, path, base, chosenGroups(base, buckets),
      _.coalesce(1))
  }

  /** The requested groups `base` holds (default: all of them), sorted. */
  private def chosenGroups(base: Version, req: Option[Seq[Int]]): Seq[Int] =
    req.getOrElse(base.groups.keys.toSeq.sorted).filter(base.groups.contains)

  /** Materialize accumulated deletion vectors — Delta's
    * `REORG TABLE ... APPLY (PURGE)` shape: rewrite ONLY the file groups
    * whose live files carry vectors (the rewrite drops the dead rows, and
    * the new manifest's DV map no longer references the replaced files),
    * while every untouched group keeps its dirs (structural sharing —
    * O(dv'd groups), not O(table)). A flat hub's one group folds into a
    * single dir, as [[optimize]] does. The complement of the surgical DV
    * DELETE: vectors make the delete O(k), purge amortizes them away once
    * enough accumulate (`t$files.dv_rows` shows where). No-op returning
    * the current version when no vectors exist. Best-effort under races
    * like Delta REORG: vectors committed after the snapshot probe survive
    * until the next purge.
    */
  def purge(spark: SparkSession, path: String): Int = {
    val base = latest(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no committed versions at $path to purge"))
    val dvKeys = base.dvs.keySet
    if (dvKeys.isEmpty) return base.version
    val chosen = base.groups.collect {
      case (g, ds) if ds.exists(d => dvKeys.exists(_.startsWith(d + "/"))) => g
    }.toSeq.sorted
    if (base.nBuckets.isEmpty) optimize(spark, path)
    else compactBuckets(spark, path, Some(chosen))
  }

  /** Z-order compaction for BUCKETED hubs — [[optimizeZOrder]]'s
    * counterpart: rewrite every (or the chosen) bucket's current content
    * along the Morton curve of (colA, colB), `filesPerBucket` contiguous
    * curve segments per bucket dir. Combined with the manifest's per-file
    * min/max stats, a range predicate on EITHER column then skips whole
    * files inside every bucket through the DSv2 scan — the bucketed
    * table's answer to Delta OPTIMIZE ZORDER BY.
    */
  def optimizeZOrderBuckets(
      spark: SparkSession,
      path: String,
      colA: String,
      colB: String,
      filesPerBucket: Int = 4,
      buckets: Option[Seq[Int]] = None
  ): Int = {
    require(filesPerBucket >= 1,
      s"filesPerBucket must be >= 1, got $filesPerBucket")
    commitLoop(spark, path) { committed =>
      val base = tip(committed, path, " to z-order")
      require(base.nBuckets.isDefined,
        s"optimizeZOrderBuckets serves bucketed hubs; $path is flat — " +
          "use optimizeZOrder")
      val chosen = chosenGroups(base, buckets)
      zOrderGroups(spark, path, base, chosen, colA, colB,
        chosen.size * filesPerBucket)
    }
  }

  /** Stage the z-order rewrite of `base`'s `chosen` groups in ONE shuffle
    * + ONE write job: `nParts` contiguous (group, z) curve segments.
    */
  private def zOrderGroups(spark: SparkSession, path: String, base: Version,
      chosen: Seq[Int], colA: String, colB: String, nParts: Int): Step = {
    import org.apache.spark.sql.functions.col
    rewriteGroups(spark, path, base, chosen, rows =>
      graft.functions.ZOrder.withBinnedZ(rows, colA, colB)
        .repartitionByRange(nParts, col(BucketCol), col("_z"))
        .sortWithinPartitions(col(BucketCol), col("_z"))
        .drop("_z"))
  }

  /** optimize/optimizeZOrder serve FLAT hubs; on a bucketed hub they would
    * fold every bucket into one unrouted dir and mix layouts — refuse
    * loudly instead, emptied bucketed hubs included. Bucketed tables
    * compact per bucket via [[compactBuckets]].
    */
  private def requireFlat(committed: Seq[Version], path: String,
      op: String): Version = {
    val v = tip(committed, path, s" to $op")
    require(v.nBuckets.isEmpty,
      s"$op supports flat hubs only; $path is bucketed (nBuckets=${v.nBuckets.get})")
    v
  }

  /** Z-order compaction (Delta OPTIMIZE ZORDER BY analogue): rewrite the
    * flat group along the Morton curve of two columns so every file
    * carries a narrow min/max range on BOTH — parquet zone-map pruning then
    * works for predicates on either column. Committed through the normal
    * log like [[optimize]].
    */
  def optimizeZOrder(
      spark: SparkSession,
      path: String,
      colA: String,
      colB: String,
      targetFileRows: Long = 1024 * 1024
  ): Int = commitLoop(spark, path) { committed =>
    val v = requireFlat(committed, path, "optimizeZOrder")
    val nFiles = math.max(1,
      math.ceil(v.rows.toDouble / targetFileRows).toInt)
    zOrderGroups(spark, path, v, v.groups.keys.toSeq, colA, colB, nFiles)
  }

  /** The audit log as a DataFrame (DESCRIBE HISTORY's shape). */
  def historyDF(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    history(spark, path)
      .map(v => (v.version, v.dirs, v.ts, v.rows, v.batchId,
        v.nBuckets, v.dirs.size))
      .toDF("version", "data_dirs", "ts", "rows", "batch_id",
        "n_buckets", "n_dirs")
  }

  /** The live-file inventory of a snapshot (Iceberg `.files` / Delta
    * `DESCRIBE DETAIL` analogue): one row per data file the version's
    * manifest references, with recorded rows/bytes and the per-column
    * min/max/null-count literals data skipping prunes on — rendered as
    * strings so one schema serves every table. Driver-side from the
    * (cached) manifest: no file is opened, no job runs.
    */
  def filesDF(spark: SparkSession, path: String,
      asOf: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val v = versionAt(spark, path, asOf)
    val bucketRe = "_bucket=(\\d+)/".r
    val dvs = v.dvs
    v.fileStats.toSeq.sortBy(_._1).map { case (f, st) =>
      (v.version, f,
        bucketRe.findFirstMatchIn(f).map(_.group(1).toInt),
        st.rows, st.bytes,
        // dead rows this file's deletion vector hides — `rows` is the
        // PHYSICAL count, so live = rows - dv_rows; `CALL purge` rewrites
        // exactly the files where this is non-zero
        dvs.get(f).map(_.size.toLong).getOrElse(0L),
        st.cols.collect { case (c, cs) if cs.min.isDefined =>
          c -> cs.min.get.toString },
        st.cols.collect { case (c, cs) if cs.max.isDefined =>
          c -> cs.max.get.toString },
        st.cols.collect { case (c, cs) if cs.nullCount.isDefined =>
          c -> cs.nullCount.get })
    }.toDF("version", "file", "bucket", "rows", "bytes", "dv_rows",
      "col_min", "col_max", "col_null_count")
  }

  /** ONE-ROW operational summary of the table — Delta's `DESCRIBE DETAIL`
    * analogue, the "what is this table" query an operator runs first.
    * Everything comes from the (cached) manifest log: no file is opened,
    * no job runs — the same driver-local contract as [[historyDF]] /
    * [[filesDF]]. `size_in_bytes`/`num_files` are the LIVE tip set
    * (what a full scan would read), `num_dv_rows` the deletions the tip's
    * deletion vectors hide, `path_cols` the hive-partition columns a
    * [[convertPartitioned]] adoption materialized into file names, and
    * `num_dirs` the data dirs a read opens — one per keyless append on a
    * flat hub until [[optimize]] folds them.
    */
  def detailDF(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val hist = history(spark, path)
    require(hist.nonEmpty, s"no committed versions at $path")
    val v = hist.last
    val stats = v.fileStats
    val schema = v.schema
    val pathCols = schema.toSeq.flatMap(_.fields.collect {
      case f if f.metadata.contains(PathColKey) &&
        f.metadata.getBoolean(PathColKey) => f.name
    })
    Seq((
      "graft-hub", path, v.version, hist.head.ts, v.ts, hist.size,
      v.rows, stats.size.toLong,
      stats.valuesIterator.map(_.bytes).sum,
      v.nBuckets, v.bucketCols.map(_.mkString(",")),
      v.checks.size.toLong,
      schema.exists(ColumnMapping.hasMapping),
      pathCols,
      v.dvs.size.toLong,
      v.dvs.valuesIterator.map(_.size.toLong).sum,
      v.dirs.size.toLong
    )).toDF("format", "location", "version", "created_at",
      "last_commit_at", "num_versions", "rows", "num_files",
      "size_in_bytes", "n_buckets", "bucket_cols", "num_checks",
      "column_mapping", "path_cols", "num_dv_files", "num_dv_rows",
      "num_dirs")
  }

  // ---------- log internals ----------

  /** Refuse to start a log over an unversioned hub — visible parquet
    * files, `_bucket=N` dirs or a `_graft_buckets` sidecar with no `_log`:
    * a fresh v1 beside them would hide every earlier row. Callers run it
    * only while the history is empty, so commits on a live table list
    * nothing extra.
    */
  private def refuseUnversioned(fs: FileSystem, path: String): Unit = {
    val root = new Path(path)
    val names = if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
    require(!names.exists(n =>
        n == "_graft_buckets" || n.matches(s"$BucketCol=\\d+")),
      s"$path holds an unversioned bucketed hub: re-land its rows " +
        "(spark.read.parquet, drop the bucket column) through " +
        "VersionedHub.writeBucketed at a fresh path")
    require(!names.exists(n => n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")),
      s"$path holds an unversioned hub: adopt it with VersionedHub.convert " +
        "(CONVERT TO HUB) first")
  }

  private[graft] def latest(spark: SparkSession, path: String): Option[Version] =
    history(spark, path).lastOption

  /** Bytes of the files NEW in version `n`'s commit (`statsNew` sum) —
    * the admission-control cost of replaying that commit in a stream.
    * Manifest-cached: repeated trigger planning never re-reads the log.
    * 0 for schema-only commits and legacy manifests without stats (they
    * admit freely — no information means no grounds to throttle).
    */
  private[graft] def commitBytes(spark: SparkSession, path: String,
      n: Int): Long =
    readManifest(spark, path, n)
      // a legacy full-snapshot manifest's statsNew is the WHOLE table,
      // not this commit's delta — billing it would collapse a byte-capped
      // stream to one version per trigger on legacy logs
      .filterNot(_.legacyStats)
      .map(_.statsNew.valuesIterator.map(_.bytes).sum).getOrElse(0L)

  /** Resolve an optional time-travel request to its manifest — shared by
    * the DataSource V2 connector ([[graft.sources.HubDataSource]]).
    */
  private[graft] def versionAt(spark: SparkSession, path: String,
      asOf: Option[Int]): Version = asOf match {
    case Some(n) => history(spark, path).find(_.version == n).getOrElse(
      throw new IllegalArgumentException(s"hub at $path has no version $n"))
    case None => latest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $path"))
  }

  /** `TIMESTAMP AS OF` resolution (Delta semantics): the LATEST version
    * whose commit timestamp is at or before the requested instant — a
    * reader asking for "the table as of 3pm" gets the last commit visible
    * at 3pm, not the first one after. Commit timestamps come from the
    * committer's clock, so the scan tolerates non-monotone `ts` under
    * clock skew (it filters, not binary-searches). A request older than
    * the first commit is refused loudly — there was no table then.
    */
  private[graft] def versionAtTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): Version = {
    val h = history(spark, path)
    require(h.nonEmpty, s"no committed versions at $path")
    h.filter(_.ts <= tsMillis).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"hub at $path has no version committed at or before epoch-ms " +
          s"$tsMillis — first commit was at ${h.head.ts}"))
  }

  /** CDF `startingTimestamp` resolution (Delta semantics, the mirror of
    * [[versionAtTimestamp]]): the EARLIEST version whose commit timestamp
    * is at or after the requested instant — "changes since 3pm" begins
    * with the first commit that happened after 3pm. A request beyond the
    * last commit is refused loudly (Delta's "timestamp is after the
    * latest commit" error): silently serving an empty feed would hide a
    * mis-typed bound from a delta-applying consumer.
    */
  private[graft] def versionAtOrAfterTimestamp(spark: SparkSession,
      path: String, tsMillis: Long): Version = {
    val h = history(spark, path)
    require(h.nonEmpty, s"no committed versions at $path")
    h.find(_.ts >= tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"hub at $path has no version committed at or after epoch-ms " +
          s"$tsMillis — the latest commit was at ${h.last.ts}"))
  }

  /** The version's full-snapshot schema: the manifest record when present
    * (round-9 manifests onward), else one mergeSchema read.
    */
  private[graft] def snapshotSchema(spark: SparkSession, path: String,
      v: Version): org.apache.spark.sql.types.StructType =
    v.schema.getOrElse(read(spark, path, Some(v.version)).schema)

  /** Multi-writer atomicity here rests ENTIRELY on `FileSystem.create(
    * overwrite = false)` being atomic — true on HDFS and on local/file
    * (POSIX O_EXCL), FALSE on object stores (S3/GCS/ABFS translate create
    * to a PUT that last-writer-wins): two committers could both "win" the
    * same version and silently fork the log. Delta Lake solves this with a
    * pluggable LogStore (DynamoDB/conditional-PUT coordinator); that
    * coordinator is the documented seam here. Until one is wired in, a
    * commit against a known object-store scheme fails LOUDLY instead of
    * corrupting the log, and an unrecognized scheme warns once (it may be
    * an HCFS with real create-exclusive semantics, e.g. a fuse mount).
    */
  private val NonAtomicCreateSchemes = Set(
    "s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss",
    "cos", "swift")
  private val AtomicCreateSchemes = Set("file", "hdfs", "viewfs", "local")
  private val warnedSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def schemeOf(path: String): String =
    Option(new Path(path).toUri.getScheme)
      .getOrElse("file").toLowerCase(java.util.Locale.ROOT)

  private[graft] def checkAtomicCommitScheme(path: String): Unit = {
    val scheme = schemeOf(path)
    // a registered CommitStore owns mutual exclusion for its scheme — the
    // filesystem's create semantics stop mattering and the guard stands down
    if (CommitStore.hasStoreFor(scheme)) return
    if (NonAtomicCreateSchemes.contains(scheme))
      throw new IllegalArgumentException(
        s"VersionedHub commit on '$scheme://' is unsafe: object-store " +
          "create is not atomic-exclusive, so concurrent writers can fork " +
          "the version log. Wire a LogStore-style commit coordinator " +
          "(conditional PUT / external lock) for this scheme, or stage the " +
          s"hub on hdfs:///file:// and replicate. Path: $path")
    else if (!AtomicCreateSchemes.contains(scheme) && warnedSchemes.add(scheme))
      logger.warn(
        s"VersionedHub commit atomicity on '$scheme://' " +
          "is unverified — it holds only if FileSystem.create(overwrite = " +
          "false) is atomic on this filesystem. Validate before running " +
          s"concurrent writers. Path: $path")
  }

  /** The commit point: put-if-absent on the manifest file, through the
    * scheme's [[CommitStore]] (default: filesystem create-exclusive; an
    * object-store coordinator can be [[CommitStore.register]]ed). Returns
    * false when another writer already committed this version number.
    */
  private def commit(fs: FileSystem, path: String, v: Version): Boolean = {
    checkAtomicCommitScheme(path)
    val log = new Path(path, LogDir)
    fs.mkdirs(log)
    val manifest = new Path(log, f"${v.version}%08d.json")
    val batchField = v.batchId.map(id => s""", "batchId": $id""").getOrElse("")
    // file group → its dirs; manifests before the group model carried a
    // flat `dataDir` or a bucketed `buckets` map instead (readManifest
    // parses all three)
    val groupsField = v.groups.toSeq.sortBy(_._1).map { case (g, ds) =>
      s""""$g": ${ds.map(d => s""""${jsonEscape(d)}"""").mkString("[", ", ", "]")}"""
    }.mkString(""", "groups": {""", ", ", "}")
    val bucketFields = v.nBuckets.map { n =>
      val bc = v.bucketCols.map(cs =>
        s""", "bucketCols": ${cs.map(c => s""""$c"""").mkString("[", ", ", "]")}""")
        .getOrElse("")
      val br =
        if (v.bucketRows.isEmpty) ""
        else v.bucketRows.toSeq.sortBy(_._1)
          .map { case (b, r) => s""""$b": $r""" }
          .mkString(""", "bucketRows": {""", ", ", "}")
      s""", "nBuckets": $n$bc$br"""
    }.getOrElse("")
    val schemaField = v.schemaJson
      .map(s => s""", "schema": "${jsonEscape(s)}"""").getOrElse("")
    // per-file data-skipping stats for THIS COMMIT'S NEW FILES ONLY — the
    // incremental-log shape (Delta §4.1): a manifest is O(touched files),
    // carried files reconstruct from the checkpoint + delta chain. Min/max
    // travel tag-encoded (see FileStats.encodeScalar) so the YAML-safe
    // parser round-trips them type-exactly.
    // ALWAYS present, even empty: absence is the LEGACY-manifest marker
    // (full "fileStats" map, no carried chain), so a zero-new-file commit
    // (ALTER TABLE, a delete dropping whole buckets) that omitted the
    // field would read back with NO carried stats at all — skipping and
    // `t$files` silently blind on that version.
    val statsField = s""", "statsDelta": ${encodeStatsMap(v.statsNew)}"""
    // deletion-vector delta: only the files whose DV changed THIS commit
    // (full updated vector each — replace-on-fold). Absent = no DV change
    // (no legacy ambiguity: DVs never had a full-map encoding).
    val dvField =
      if (v.dvNew.isEmpty) ""
      else s""", "dvDelta": ${encodeDvMap(v.dvNew)}"""
    // CHECK constraints in force at this version (name -> predicate SQL)
    val checksField =
      if (v.checks.isEmpty) ""
      else v.checks.toSeq.sortBy(_._1)
        .map { case (n, sql) =>
          s""""${jsonEscape(n)}": "${jsonEscape(sql)}"""" }
        .mkString(""", "checks": {""", ", ", "}")
    val content =
      s"""{"version": ${v.version}, "ts": ${v.ts}, "rows": ${v.rows}$batchField$groupsField$bucketFields$schemaField$statsField$dvField$checksField}"""
        .getBytes("UTF-8")
    val won = CommitStore.forScheme(schemeOf(path)).putIfAbsent(
      fs, manifest, content)
    // periodic FULL-stats checkpoint (Delta §4.1): bounds every reader's
    // delta-chain fold to the checkpoint interval. Best-effort and NOT
    // the commit point — a lost or torn checkpoint only lengthens the
    // fold, never loses data. FLAT hubs checkpoint too (round 16): a
    // long-lived flat table (a streaming MV, a DV'd flat hub) otherwise
    // folds an unbounded manifest chain on every read until a vacuum
    // happens to anchor it — writer-side Versions carry full stats
    // thunks on every commit path, so the snapshot map is exact here.
    if (won && v.version % CheckpointInterval == 0) {
      try writeCheckpoint(fs, path, v)
      catch { case scala.util.control.NonFatal(e) =>
        logger.warn(s"checkpoint at $path " +
          s"v${v.version} failed (readers fold deltas instead): $e")
      }
    }
    won
  }

  /** Full checkpoints land every this-many versions on bucketed hubs. */
  private[graft] val CheckpointInterval = 10

  /** Above this many live files, checkpoints are written as PARQUET
    * (Delta §4.2's columnar checkpoint) instead of JSON. Measured at the
    * boundary (ProfileManifestScale, SCALE.md §8j): SnakeYAML's object
    * graph costs ~1 KB of driver heap per entry and parses ~100k entries
    * in seconds — a 1M-file JSON checkpoint OOMs a default driver — while
    * the parquet form collects the same maps in bounded batches. Below
    * the threshold JSON wins: zero Spark jobs on the small-commit path.
    */
  private[graft] val CheckpointParquetThreshold = 20000

  private def checkpointPath(path: String, version: Int): Path =
    new Path(new Path(path, LogDir), f"$version%08d.checkpoint.json")

  private def checkpointParquetPath(path: String, version: Int): Path =
    new Path(new Path(path, LogDir), f"$version%08d.checkpoint.parquet")

  /** Parquet-checkpoint row: one per file carrying its skipping stats
    * and/or deletion vector. `rows` absent = the file has a DV but no
    * recorded stats (kept distinct so the fold reconstructs exactly the
    * two maps the JSON form writes).
    */
  private[graft] case class CkCol(c: String, mn: Option[String],
      mx: Option[String], nc: Option[Long])
  private[graft] case class CkRow(path: String, rows: Option[Long],
      bytes: Option[Long], cols: Seq[CkCol], dv: Option[Seq[Long]])

  /** Write the FULL per-file stats snapshot of `v` as a checkpoint —
    * overwrite-idempotent (content is deterministic for a committed
    * version) via temp + rename so readers never parse a torn write.
    * Format is size-versioned: JSON below [[CheckpointParquetThreshold]]
    * live files (driver-local, zero jobs), parquet at or above it
    * (one write job; the driver already holds the map it serializes).
    * Readers probe parquet first and fall back to JSON, so both formats
    * interoperate in one log across the threshold.
    */
  private[graft] def writeCheckpoint(fs: FileSystem, path: String,
      v: Version): Unit = {
    val stats = v.fileStats
    val dvs = v.dvs
    if (stats.size + dvs.size >= CheckpointParquetThreshold) {
      val spark = SparkSession.active
      import spark.implicits._
      val paths = (stats.keySet ++ dvs.keySet).toSeq.sorted
      val rows = paths.map { p =>
        val st = stats.get(p)
        CkRow(p, st.map(_.rows), st.map(_.bytes),
          st.fold(Seq.empty[CkCol])(_.cols.toSeq.sortBy(_._1).map {
            case (c, s) => CkCol(c, s.min.map(FileStats.encodeScalar),
              s.max.map(FileStats.encodeScalar), s.nullCount)
          }),
          dvs.get(p))
      }
      val target = checkpointParquetPath(path, v.version)
      val tmp = new Path(target.getParent,
        s"${target.getName}.tmp-${UUID.randomUUID().toString.take(8)}")
      spark.createDataset(rows)
        .repartition(math.max(1, rows.size / 500000))
        .write.mode("overwrite").parquet(tmp.toString)
      // delete any stale target BEFORE renaming: HDFS rename(dir,
      // existingDir) "succeeds" by NESTING src inside dst, so a torn
      // checkpoint left by a crashed writer would never be repaired (the
      // local-FS failure-then-retry shape hides this). Content is
      // deterministic for a committed version and the checkpoint is
      // best-effort — a reader probing mid-replace falls back to the
      // JSON sibling or the delta fold, never errors.
      if (fs.exists(target)) fs.delete(target, true)
      if (!fs.rename(tmp, target)) fs.delete(tmp, true)
      return
    }
    val target = checkpointPath(path, v.version)
    val tmp = new Path(target.getParent,
      s"${target.getName}.tmp-${UUID.randomUUID().toString.take(8)}")
    val content =
      s"""{"version": ${v.version}, "fileStats": ${encodeStatsMap(stats)}, "dvs": ${encodeDvMap(dvs)}}"""
        .getBytes("UTF-8")
    val out = fs.create(tmp, /* overwrite = */ true)
    try out.write(content) finally out.close()
    if (!fs.rename(tmp, target)) {
      // some filesystems refuse rename-onto-existing: replace explicitly
      fs.delete(target, false)
      if (!fs.rename(tmp, target)) fs.delete(tmp, false)
    }
  }

  /** The checkpointed full (stats, dvs) maps at `version`, or None when
    * absent or unparseable (readers then fold a longer delta chain —
    * never an error). The parquet form is probed first, legacy/small
    * JSON second. Pre-DV checkpoints parse with empty dvs (DVs did
    * not exist when they were written, so empty is exact, not lossy).
    */
  private def readCheckpoint(spark: SparkSession, fs: FileSystem,
      path: String, version: Int)
      : Option[(Map[String, FileStats.FileStat], Map[String, Seq[Long]])] = {
    val pq = checkpointParquetPath(path, version)
    val fromParquet: Option[(Map[String, FileStats.FileStat], Map[String, Seq[Long]])] =
      if (!fs.exists(pq)) None
      else try {
        import spark.implicits._
        val rows = spark.read.parquet(pq.toString).as[CkRow].collect()
        val stats = rows.iterator.filter(_.rows.isDefined).map { r =>
          r.path -> FileStats.FileStat(r.rows.get, r.bytes.getOrElse(0L),
            r.cols.map(c => c.c -> FileStats.ColStat(
              c.mn.flatMap(FileStats.decodeScalar),
              c.mx.flatMap(FileStats.decodeScalar), c.nc)).toMap)
        }.toMap
        val dvm = rows.iterator.filter(_.dv.exists(_.nonEmpty))
          .map(r => r.path -> r.dv.get).toMap
        Some((stats, dvm))
      } catch { case scala.util.control.NonFatal(_) => None }
    if (fromParquet.isDefined) return fromParquet
    val p = checkpointPath(path, version)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val parsed =
      try new Yaml(new SafeConstructor(logLoaderOptions()))
        .load[java.util.Map[String, AnyRef]](text)
      catch { case _: Exception => null }
    if (parsed == null) None
    else Option(parsed.get("fileStats")).map(raw =>
      (decodeStatsMap(raw),
        Option(parsed.get("dvs")).map(decodeDvMap)
          .getOrElse(Map.empty[String, Seq[Long]])))
  }

  /** Carried-file stats for version `n` as READERS reconstruct them: the
    * latest parseable checkpoint at or before `n`, plus every manifest
    * delta in between (a checkpoint AT `n` short-circuits — it already
    * holds the full map). The union is exact without tombstones because
    * file paths are globally unique (UUID roots) and [[Version.fileStats]]
    * restricts to the dirs `n` actually references. Legacy manifests
    * (full `fileStats` field) parse into `statsNew` wholesale, so they act
    * as natural anchors inside the fold.
    */
  private[graft] case class Carried(stats: Map[String, FileStats.FileStat],
      dvs: Map[String, Seq[Long]])

  private[graft] def loadCarried(spark: SparkSession, path: String,
      n: Int): Carried = {
    val fs = fileSystem(spark, path)
    val log = new Path(path, LogDir)
    if (!fs.exists(log)) return Carried(Map.empty, Map.empty)
    val names = fs.listStatus(log).map(_.getPath.getName)
    val ckVersions = names.collect {
      case CheckpointName(v) if v.toInt <= n => v.toInt
      case CheckpointParquetName(v) if v.toInt <= n => v.toInt
    }.distinct.sorted.reverse
    var anchor = 0
    var acc = Map.empty[String, FileStats.FileStat]
    var dvAcc = Map.empty[String, Seq[Long]]
    // newest parseable checkpoint wins; a torn/corrupt one falls through
    ckVersions.iterator
      .map(c => c -> readCheckpoint(spark, fs, path, c))
      .collectFirst { case (c, Some(m)) => (c, m) }
      .foreach { case (c, (m, d)) => anchor = c; acc = m; dvAcc = d }
    if (anchor == n) return Carried(acc, dvAcc)
    val manifestVersions = names.collect {
      case ManifestName(v) if v.toInt > anchor && v.toInt < n => v.toInt
    }.sorted
    for (i <- manifestVersions; m <- readManifest(spark, path, i)) {
      acc = acc ++ m.statsNew
      // whole-vector replacement per file: a commit that deepens a file's
      // DV writes the file's FULL updated vector, so last-writer-wins
      dvAcc = dvAcc ++ m.dvNew
    }
    Carried(acc, dvAcc)
  }

  private val ManifestName = """(\d+)\.json""".r
  private val CheckpointName = """(\d+)\.checkpoint\.json""".r
  private val CheckpointParquetName = """(\d+)\.checkpoint\.parquet""".r

  /** `{path: {rows, bytes, cols: {c: {mn, mx, nc}}}}` as manifest JSON —
    * shared by the per-commit `statsDelta` field and the checkpoint file.
    */
  private def encodeStatsMap(
      stats: Map[String, FileStats.FileStat]): String =
    stats.toSeq.sortBy(_._1).map { case (p, f) =>
      val cols = f.cols.toSeq.sortBy(_._1).map { case (c, s) =>
        val parts =
          s.min.map(x =>
            s""""mn": "${jsonEscape(FileStats.encodeScalar(x))}"""").toSeq ++
          s.max.map(x =>
            s""""mx": "${jsonEscape(FileStats.encodeScalar(x))}"""") ++
          s.nullCount.map(n => s""""nc": $n""")
        s""""${jsonEscape(c)}": ${parts.mkString("{", ", ", "}")}"""
      }.mkString("{", ", ", "}")
      s""""${jsonEscape(p)}": {"rows": ${f.rows}, "bytes": ${f.bytes}, "cols": $cols}"""
    }.mkString("{", ", ", "}")

  /** `{path: [pos, pos, ...]}` — ascending physical row indices deleted
    * from the file. Plain JSON longs: a DV commit is capped at
    * [[DvMaxPositions]] positions (larger deletes rewrite), so the field
    * stays small by construction.
    */
  private def encodeDvMap(dvs: Map[String, Seq[Long]]): String =
    dvs.toSeq.sortBy(_._1).map { case (p, ps) =>
      s""""${jsonEscape(p)}": ${ps.mkString("[", ", ", "]")}"""
    }.mkString("{", ", ", "}")

  private def decodeDvMap(raw: AnyRef): Map[String, Seq[Long]] = raw match {
    case fm: java.util.Map[_, _] =>
      fm.asScala.map { case (k, v0) =>
        k.toString -> (v0 match {
          case l: java.util.List[_] =>
            l.asScala.map(_.toString.toLong).toIndexedSeq: Seq[Long]
          case _ => Seq.empty[Long]
        })
      }.toMap
    case _ => Map.empty
  }

  private def decodeStatsMap(raw: AnyRef): Map[String, FileStats.FileStat] =
    raw match {
      case fm: java.util.Map[_, _] =>
        fm.asScala.map { case (k, e0) =>
          val e = e0.asInstanceOf[java.util.Map[String, AnyRef]].asScala
          val cols = e.get("cols") match {
            case Some(cm: java.util.Map[_, _]) =>
              cm.asScala.map { case (c, s0) =>
                val s = s0.asInstanceOf[java.util.Map[String, AnyRef]].asScala
                c.toString -> FileStats.ColStat(
                  s.get("mn").flatMap(x => FileStats.decodeScalar(x.toString)),
                  s.get("mx").flatMap(x => FileStats.decodeScalar(x.toString)),
                  s.get("nc").map(_.toString.toLong))
              }.toMap
            case _ => Map.empty[String, FileStats.ColStat]
          }
          k.toString -> FileStats.FileStat(
            e("rows").toString.toLong, e("bytes").toString.toLong, cols)
        }.toMap
      case _ => Map.empty
    }

  /** Minimal JSON string escape for the embedded schema record (the schema
    * is itself JSON, so quotes and backslashes must survive the round-trip
    * through the YAML-safe manifest parser).
    */
  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
      case c => sb.append(c)
    }
    sb.toString
  }

  /** A manifest file becomes VISIBLE at the create-exclusive claim, a few
    * microseconds before its JSON content lands — a concurrent reader can
    * observe it empty/partial. Wait briefly for in-flight content; a
    * manifest that never becomes parseable (writer crashed inside the
    * content write) is treated as absent for reads, blocks further commits
    * LOUDLY (failIfStuck points at the remedy), and is reclaimed only by an
    * explicit, age-guarded [[repair]] — never silently mid-commit.
    */
  private val ManifestWaitMs = 10L
  private val ManifestWaitAttempts = 100

  /** One parse attempt, no wait. Manifests are JSON this writer produced, but
    * the table path is writable by anyone with table access — parse with
    * snakeyaml's SafeConstructor (scalars/maps/lists only; YAML tags that
    * would instantiate arbitrary classes are rejected), the JVM analogue of
    * `yaml.safe_load`.
    */
  /** Instrumentation for the manifest-cache contract (spec-gated): how
    * many times a manifest file was actually opened and parsed.
    */
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong

  /** One read+parse attempt. `Left(io)` = the READ failed (on schemes with
    * a claim-then-content window this can be a torn in-flight read, on any
    * scheme a transient fault — retried, but NEVER silently treated as
    * "version absent" once retries exhaust: a persistent IO failure must
    * surface loudly, or readers would serve stale snapshots and repair
    * could delete a live manifest). `Right(None)` = the content read fine
    * but does not parse — the claimed-not-committed / dead-writer state.
    */
  /** SafeConstructor options for OUR OWN log files. SnakeYAML's default
    * code-point limit (3 MB, a YAML-bomb guard for untrusted input)
    * would silently null-parse any manifest/checkpoint past ~15k files —
    * a BULK initial load of a large table writes exactly that, and a
    * "parsed null" manifest reads as ABSENT, so the version would look
    * stuck/corrupt. The log is trusted engine-written content; bound it
    * at 1 GiB instead (a true runaway still fails closed).
    */
  private def logLoaderOptions(): LoaderOptions = {
    val o = new LoaderOptions()
    o.setCodePointLimit(1 << 30)
    o
  }

  private def parseManifestAttempt(fs: FileSystem, manifest: Path)
      : Either[java.io.IOException, Option[scala.collection.Map[String, AnyRef]]] = {
    manifestParses.incrementAndGet()
    val text =
      try {
        val in = fs.open(manifest)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } catch { case e: java.io.IOException => return Left(e) }
    val parsed =
      try new Yaml(new SafeConstructor(logLoaderOptions()))
        .load[java.util.Map[String, AnyRef]](text)
      catch { case _: Exception => null }
    if (parsed != null && parsed.containsKey("version")) Right(Some(parsed.asScala))
    else Right(None)
  }

  /** A commit loser whose winning version number has an UNREADABLE manifest
    * is racing a ghost: the winner crashed between the create-exclusive
    * claim and the content write, and no retry can ever succeed. Fail now
    * with the remedy instead of burning MaxRetries full snapshot writes.
    * (readManifest below has already waited out the in-flight window.)
    */
  private def failIfStuck(spark: SparkSession, path: String, version: Int): Unit = {
    val fs = fileSystem(spark, path)
    val manifest = new Path(new Path(path, LogDir), f"$version%08d.json")
    if (fs.exists(manifest) && readManifest(spark, path, version).isEmpty)
      throw new IllegalStateException(
        s"hub at $path: version $version is claimed by an unreadable manifest " +
          "(a writer crashed mid-commit) — run VersionedHub.repair(path) to " +
          "reclaim the version number, then retry")
  }

  /** Reclaim version numbers blocked by crashed writers: delete manifest
    * files that exist but can never parse, provided they are older than
    * `minAgeMs`. Age is the safety argument — a healthy writer's content
    * lands microseconds after its create-exclusive claim, so a claim still
    * unparseable after minAgeMs belongs to a dead writer and will never
    * become a committed version. The orphan data dir (if the writer got
    * that far) is swept by the next [[vacuum]]. Returns the reclaimed
    * version numbers; concurrent repairers are safe (delete is
    * first-wins-idempotent).
    */
  def repair(spark: SparkSession, path: String, minAgeMs: Long = 600000L): Seq[Int] = {
    val fs = fileSystem(spark, path)
    val log = new Path(path, LogDir)
    if (!fs.exists(log)) return Nil
    val cutoff = System.currentTimeMillis() - math.max(minAgeMs, 0L)
    fs.listStatus(log).toSeq
      .filter(st => ManifestName.matches(st.getPath.getName) &&
        st.getModificationTime < cutoff)
      .flatMap { st =>
        val n = st.getPath.getName.stripSuffix(".json").toInt
        // deletion is irreversible: reclaim ONLY a claim whose content
        // reads fine and stays unparseable across spaced attempts — an IO
        // failure (Left) is an infrastructure fault, never grounds to
        // delete (the blip could be hiding a live committed manifest)
        def deadClaim: Boolean = (1 to 3).forall { i =>
          val dead = parseManifestAttempt(fs, st.getPath) == Right(None)
          if (dead && i < 3) Thread.sleep(500L)
          dead
        }
        if (deadClaim && fs.delete(st.getPath, false)) Some(n)
        else None
      }.sorted
  }

  /** Parsed-manifest cache: a manifest file is IMMUTABLE once parseable —
    * the commit point is create-exclusive, `repair` deletes only claims
    * that never parsed (and those are never cached), and `vacuum` removes
    * old manifests from the LISTING that gates which versions are
    * consulted — so a successful parse can be reused for the life of the
    * JVM. Bounded access-order LRU; caching the `Version` also memoizes
    * its lazy `fileStats` reconstruction across calls. This turns
    * `history()` from O(versions) file reads per call into one listing
    * plus misses only — the snapshot-cache discipline Delta applies to
    * its log (Armbrust VLDB 2020 §4.2).
    */
  private val ManifestCacheMax = 4096
  private val manifestCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Version](128, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Version]): Boolean =
          size() > ManifestCacheMax
      })

  /** Drop every cached manifest under `path`. The cache's safety argument
    * — manifests are immutable once parseable — holds only while the table
    * LIVES at that path: DROP TABLE + CREATE (or RENAME onto it) restarts
    * the version numbering, and a cached `path#1` from the old incarnation
    * would serve the old schema and dirs to the new table (REPLACE TABLE
    * AS SELECT hits exactly this). Catalog DDL that deletes or moves a
    * table calls this; out-of-band `rm -rf` of a live table remains
    * undetectable (as in Delta, whose snapshot cache has the same
    * contract).
    */
  private[graft] def invalidateCache(path: String): Unit =
    manifestCache.synchronized {
      val prefix = s"$path#"
      manifestCache.keySet().removeIf(_.startsWith(prefix))
    }

  private def readManifest(spark: SparkSession, path: String, n: Int): Option[Version] = {
    val fs = fileSystem(spark, path)
    val manifest = new Path(new Path(path, LogDir), f"$n%08d.json")
    // existence is checked BEFORE the cache: a vacuumed version must stop
    // resolving (its data dirs may already be swept) even though its
    // parse is still cached. One exists() beats open+read+parse.
    if (!fs.exists(manifest)) return None
    val cacheKey = s"$path#$n"
    val cached = manifestCache.get(cacheKey)
    if (cached != null) return Some(cached)
    var m: scala.collection.Map[String, AnyRef] = null
    var attempt = 0
    var lastIo: Option[java.io.IOException] = None
    while (m == null && attempt < ManifestWaitAttempts) {
      attempt += 1
      parseManifestAttempt(fs, manifest) match {
        case Right(Some(parsed)) => m = parsed
        case Right(None) => lastIo = None; Thread.sleep(ManifestWaitMs)
        case Left(io) => lastIo = Some(io); Thread.sleep(ManifestWaitMs)
      }
    }
    // a read still FAILING (not merely unparseable) after the whole wait
    // window is an infrastructure fault, not an in-flight commit — loud
    for (io <- lastIo if m == null) throw io
    if (m == null) return None // in-flight too long or corrupt: treat as absent
    val groups: Map[Int, Seq[String]] = (m.get("groups"), m.get("buckets")) match {
      case (Some(gm: java.util.Map[_, _]), _) =>
        gm.asScala.map { case (k, ds) => k.toString.toInt ->
          ds.asInstanceOf[java.util.List[_]].asScala.map(_.toString).toSeq
        }.toMap
      // manifests before the group model: bucket → its one dir ...
      case (_, Some(bm: java.util.Map[_, _])) =>
        bm.asScala.map { case (k, d) => k.toString.toInt -> Seq(d.toString) }
          .toMap
      // ... or a flat table's one snapshot dir
      case _ => Map(FlatGroup -> Seq(m("dataDir").toString))
    }
    val bucketCols = m.get("bucketCols") match {
      case Some(l: java.util.List[_]) => Some(l.asScala.map(_.toString).toSeq)
      case _ => None
    }
    val bucketRows = m.get("bucketRows") match {
      case Some(bm: java.util.Map[_, _]) =>
        bm.asScala.map { case (k, v) => k.toString.toInt -> v.toString.toLong }
          .toMap
      case _ => Map.empty[Int, Long]
    }
    val version = m("version").toString.toInt
    // two stats encodings coexist: "statsDelta" (incremental — this
    // commit's files, carried files fold lazily from checkpoint + chain)
    // and legacy "fileStats" (a full snapshot map per manifest — parses as
    // statsNew wholesale and needs no carried chain, acting as an anchor)
    // ONE lazy fold serves both carried thunks — stats and dvs come out
    // of the same checkpoint + delta-chain walk
    lazy val carriedState = loadCarried(spark, path, version)
    val (statsNew, statsCarried, dvCarried) = m.get("statsDelta") match {
      case Some(raw) =>
        (decodeStatsMap(raw),
          () => carriedState.stats,
          () => carriedState.dvs)
      case None => (m.get("fileStats").map(decodeStatsMap).getOrElse(
        Map.empty[String, FileStats.FileStat]),
        () => Map.empty[String, FileStats.FileStat],
        Version.NoDvCarried)
    }
    val parsed = Version(
      version,
      m("ts").toString.toLong,
      m("rows").toString.toLong,
      m.get("batchId").map(_.toString.toLong),
      m.get("nBuckets").map(_.toString.toInt),
      groups,
      bucketCols,
      bucketRows,
      m.get("schema").map(_.toString),
      statsNew,
      statsCarried,
      m.get("dvDelta").map(decodeDvMap).getOrElse(Map.empty),
      dvCarried,
      m.get("checks") match {
        case Some(cm: java.util.Map[_, _]) =>
          cm.asScala.map { case (k, v) => k.toString -> v.toString }.toMap
        case _ => Map.empty[String, String]
      },
      legacyStats = m.get("statsDelta").isEmpty)
    manifestCache.put(cacheKey, parsed)
    Some(parsed)
  }

  private[graft] def resolve(path: String, rel: String): String =
    new Path(path, rel).toString

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
