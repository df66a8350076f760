package graft.writers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Cast, EqualTo, Expression}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The HUB zone's merge kernel: keyed upsert with schema evolution, on
  * plain Spark. Every hub commit goes through [[VersionedHub]]'s log and
  * computes its snapshot with these functions.
  *
  * Reproduces the observable semantics of the reference's `write_hub`
  * (metadata_ingestion/src/ingestion_framework/writer.py:18-36), which uses
  * Delta MERGE + `schema.autoMerge`. No Delta jars are vendored here, so the
  * merge is re-expressed with built-in DataFrame ops:
  *
  *   - matched target rows (equi-join on hub primary keys) are fully replaced
  *     by the source row (`whenMatchedUpdateAll`, writer.py:27);
  *   - unmatched source rows are inserted (`whenNotMatchedInsertAll`,
  *     writer.py:28);
  *   - a row with any NULL key never matches (`=` not `<=>` in the reference's
  *     join condition, writer.py:24) and therefore always inserts;
  *   - no configured keys degrades the condition to `false` → every source row
  *     inserts (append) — same as the reference;
  *   - schema evolution: new/missing columns are reconciled by name with type
  *     widening (`unionByName(allowMissingColumns)` + numeric/string widening),
  *     covering Delta `schema.autoMerge` (writer.py:20) plus the CSV
  *     inferSchema drift case (int→double across runs).
  *
  * Execution shape (scale): one shuffle of target∪source on the key columns
  * (window dedup) — or, on a bucketed hub, one shuffle on the bucket
  * ([[mergeBucketedByRun]]) over only the touched buckets. That matches
  * Delta MERGE's worst case (it also joins and rewrites matched files).
  */
object HubWriter {

  val BucketCol = "_bucket"

  /** Canonical string form of a key value for bucket hashing: the SAME
    * logical value must render identically under every type the widening
    * ladder (see [[widen]]) can assign it across runs.
    *
    *   - integral types: plain string cast (`"5"` for int and long alike);
    *   - fractional/decimal types: integral-valued numbers render via a long
    *     cast (`5.0D` → `"5"`, matching int `5`); non-integral values render
    *     via a double cast (`DECIMAL 5.50` and `5.5D` both → `"5.5"`).
    *     Exact for integral values with |v| ≤ 2^53 (lossless double
    *     round-trip); beyond that a long↔double drift may re-bucket — the
    *     ladder only reaches there via long→double widening of huge keys;
    *   - date: cast via timestamp, so a `date` that later widens to
    *     `timestamp` (midnight) keeps its bucket;
    *   - everything else: string cast (strings are already canonical; a
    *     non-numeric type never widens to numeric).
    */
  private[graft] def canonicalKey(c: Column, dt: DataType): Column =
    ColumnBridge.column(canonicalKey(ColumnBridge.expression(c), dt))

  /** [[canonicalKey]] as a raw Catalyst tree, the one definition both the
    * writer's routing stamp and the planner's driver-local `bucketOf`
    * (which evaluates it over a literal with no analyzer pass) build on.
    */
  private[graft] def canonicalKey(e: Expression, dt: DataType): Expression =
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Cast(e, StringType)
      case _: NumericType =>
        val d = Cast(e, DoubleType)
        val asLong = Cast(d, LongType)
        CaseWhen(Seq((EqualTo(d, Cast(asLong, DoubleType)),
          Cast(asLong, StringType))), Some(Cast(d, StringType)))
      case DateType => Cast(Cast(e, TimestampType), StringType)
      case _ => Cast(e, StringType)
    }

  /** [[merge]] for BUCKETED commits, computed with ONE exchange instead of
    * two (guide §2.4): both sides arrive already stamped with `bucketCol`
    * (a deterministic hash of a key subset, so every row of one key shares
    * a bucket), the window partitions by the BUCKET and totally orders each
    * bucket by (keys…, `_is_new` DESC [, `_ingest_ts_utc` DESC]), and the
    * per-key winner is "first row of its key run" — detected with one
    * `lag` comparison instead of a per-key `row_number`. The classic
    * formulation shuffles on the keys for the window and then AGAIN on the
    * bucket for the optimized write; here the single bucket exchange
    * serves both, and at 100 TB that is one full shuffle of the merged
    * snapshot removed from every bucketed commit.
    *
    * Equivalence to [[merge]]: rows of one key are contiguous in the
    * bucket sort, the within-key order is exactly [[merge]]'s window
    * order, so the first-of-run row IS the `row_number() = 1` row; rows
    * with any NULL key are all kept verbatim (same bypass), and NULL-keyed
    * neighbors can never suppress each other because the bypass short-
    * circuits before the lag comparison. Identity-column inheritance needs
    * a per-key aggregate window, so callers with identity columns stay on
    * [[merge]].
    */
  private[writers] def mergeBucketedByRun(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      bucketCol: String
  ): DataFrame = {
    val tagged = target
      .withColumn("_is_new", lit(0))
      .unionByName(source.withColumn("_is_new", lit(1)))
    val anyNullKey = keys.map(k => col(k).isNull).reduce(_ || _)
    val orderCols =
      if (tagged.columns.contains("_ingest_ts_utc"))
        Seq(desc("_is_new"), desc("_ingest_ts_utc"))
      else Seq(desc("_is_new"))
    val w = Window.partitionBy(col(bucketCol))
      .orderBy(keys.map(col(_).asc) ++ orderCols: _*)
    val keyT = struct(keys.map(col): _*)
    tagged
      .withColumn("_keep",
        when(anyNullKey, lit(true))
          .otherwise(!(keyT <=> lag(keyT, 1).over(w))))
      .filter(col("_keep"))
      .drop("_keep", "_is_new")
  }

  /** Last-writer-wins merge of source into target on `keys`.
    *
    * Rows with any NULL key bypass the window dedup entirely (they can never
    * match under `=` semantics, so target null-key rows survive and source
    * null-key rows insert — both are kept verbatim).
    *
    * Within a single source batch containing duplicate keys, the row with the
    * latest `_ingest_ts_utc` wins (Delta MERGE would instead error on
    * duplicate matches; last-writer-wins is the strictly-more-useful contract
    * and is what repeated runs produce anyway).
    */
  private[writers] def merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      identityCols: Seq[String] = Seq.empty
  ): DataFrame = {
    val tagged = target
      .withColumn("_is_new", lit(0))
      .unionByName(source.withColumn("_is_new", lit(1)))
    val anyNullKey = keys.map(k => col(k).isNull).reduce(_ || _)
    val orderCols =
      if (tagged.columns.contains("_ingest_ts_utc"))
        Seq(desc("_is_new"), desc("_ingest_ts_utc"))
      else Seq(desc("_is_new"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    // identity values are birth-assigned PER KEY: a batch row replacing an
    // existing key inherits the replaced row's identity value (the batch
    // side carries NULL there) — max over the key's window group, same
    // partitioning as the dedup window, so no extra shuffle. NULL-keyed
    // rows never match and keep their own (to-be-allocated) NULL.
    val idFill = identityCols.filter(c =>
      tagged.columns.exists(_.equalsIgnoreCase(c)))
    val wFull = Window.partitionBy(keys.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val inherited = idFill.foldLeft(tagged)((d, c) =>
      d.withColumn(c,
        when(anyNullKey, col(c))
          .otherwise(coalesce(col(c), max(col(c)).over(wFull)))))
    inherited
      .withColumn(
        "_rn",
        when(anyNullKey, lit(1)).otherwise(row_number().over(w))
      )
      .filter(col("_rn") === 1)
      .drop("_rn", "_is_new")
  }

  /** Align two frames to a merged schema with type widening, so
    * `unionByName(allowMissingColumns = true)` never hits a type conflict.
    * Widening ladder: identical → keep; both numeric → wider numeric;
    * date/timestamp → timestamp; anything vs string → string.
    */
  private[graft] def reconcileSchemas(
      a: DataFrame,
      b: DataFrame
  ): (DataFrame, DataFrame) = {
    val bTypes = b.schema.map(f => f.name -> f.dataType).toMap
    val aTypes = a.schema.map(f => f.name -> f.dataType).toMap
    def castTo(df: DataFrame, other: Map[String, DataType]): DataFrame =
      df.schema.foldLeft(df) { (acc, f) =>
        other.get(f.name) match {
          case Some(o) if o != f.dataType =>
            val target = widen(f.dataType, o)
            if (target != f.dataType) acc.withColumn(f.name, col(f.name).cast(target))
            else acc
          case _ => acc
        }
      }
    val a2 = castTo(a, bTypes)
    val b2 = castTo(b, aTypes)
    val allCols = (a2.columns ++ b2.columns.filterNot(a2.columns.contains)).toSeq
    def padded(df: DataFrame, schemaOf: DataFrame): DataFrame = {
      val have = df.columns.toSet
      val missing = allCols.filterNot(have)
      missing.foldLeft(df) { (acc, c) =>
        val dt = schemaOf.schema.find(_.name == c).map(_.dataType).getOrElse(StringType)
        acc.withColumn(c, lit(null).cast(dt))
      }.select(allCols.map(col): _*)
    }
    (padded(a2, b2), padded(b2, a2))
  }

  private[writers] def widen(x: DataType, y: DataType): DataType = (x, y) match {
    case (a, b) if a == b => a
    case (a: NumericType, b: NumericType) =>
      val ladder: Seq[DataType] =
        Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
      (ladder.indexOf(a), ladder.indexOf(b)) match {
        case (i, j) if i >= 0 && j >= 0 => ladder(math.max(i, j))
        case _                          => DoubleType // decimals etc: be safe
      }
    case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
    case _ => StringType
  }
}
