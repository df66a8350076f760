package graft

/** Pins the driver contract: entry() yields rows at sf0.001; every query has
  * a runnable implementation; every oracle key refers to a real query.
  */
class EntryContractSpec extends SparkTestBase {

  test("entry() returns rows on sf0.001 (driver smoke gate)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle (hash-checked by the driver)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q))
    assert((q -- o).isEmpty, s"oracle-less queries: ${q -- o}")
  }

  test("suite query keys never collide (Map ++ would silently shadow)") {
    import graft.queries._
    val suites: Seq[(String, Set[String])] = Seq(
      "Relational" -> RelationalQueries.all.keySet,
      "Pipeline" -> PipelineQueries.all.keySet,
      "Extended" -> ExtendedQueries.all.keySet,
      "Subquery" -> SubqueryQueries.all.keySet,
      "Sketch" -> SketchQueries.all.keySet,
      "Analytics" -> AnalyticsQueries.all.keySet,
      "Corpus" -> CorpusQueries.all.keySet,
      "Ingest" -> IngestQueries.all.keySet,
      "Behavior" -> BehaviorQueries.all.keySet,
      "Graph" -> GraphQueries.all.keySet)
    for {
      (Seq((na, a), (nb, b))) <- suites.combinations(2)
      dup = a.intersect(b)
    } assert(dup.isEmpty, s"$na and $nb both define: $dup")
    assert(SparkEntry.queries.size == suites.map(_._2.size).sum,
      "union lost entries to key collisions")
  }

  test("every Plans.headline name is a SparkEntry query, listed once") {
    val h = Plans.headline
    val unknown = h.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"not a query: ${unknown.mkString(", ")}")
    val dups = h.diff(h.distinct)
    assert(dups.isEmpty, s"listed more than once: ${dups.mkString(", ")}")
  }

  test("every query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, "/root/testdata/sf0.001").count()
      assert(n >= 0, name)
      // empty results are legitimate only for the anti-join style queries
      if (!Set("q_anti_join").contains(name))
        assert(n > 0, s"$name returned no rows")
    }
  }

  /** The ±2^53 determinism bound (NOTES.md): the driver's numeric
    * canonicalization is float64-rendering-sensitive above 2^53
    * (CORRECTNESS_r05 q_correlation — values bit-identical locally, hash
    * divergent at the driver). Enforced at sf0.01, the exact SF the
    * driver's correctness gate runs, so a value that would diverge there
    * fails HERE first. Big components must be emitted as hi/lo BIGINT
    * pairs (see AnalyticsQueries.qCorrelation).
    */
  test("no numeric output cell exceeds ±2^53 at sf0.01 (driver hash bound)") {
    import org.apache.spark.sql.types._
    val bound = new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(53))
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.01")
      val numeric = df.schema.fields.zipWithIndex.collect {
        case (f, i) if f.dataType.isInstanceOf[NumericType] => (f.name, i)
      }
      if (numeric.nonEmpty) {
        var worst = Map.empty[String, java.math.BigDecimal]
        val it = df.toLocalIterator()
        while (it.hasNext) {
          val row = it.next()
          numeric.foreach { case (cn, i) =>
            if (!row.isNullAt(i)) {
              val abs = (row.get(i) match {
                case d: java.math.BigDecimal => d
                case d: BigDecimal           => d.bigDecimal
                case d: Double               => new java.math.BigDecimal(d)
                case f: Float                => new java.math.BigDecimal(f.toDouble)
                case n: Number => new java.math.BigDecimal(n.longValue())
              }).abs
              if (abs.compareTo(bound) > 0 &&
                  worst.get(cn).forall(_.compareTo(abs) < 0))
                worst += cn -> abs
            }
          }
        }
        worst.foreach { case (cn, v) => offenders += s"$name.$cn = $v" }
      }
    }
    assert(offenders.isEmpty,
      s"cells exceed 2^53 — the driver hash is not exact there; mask or " +
        s"split into hi/lo BIGINT (NOTES.md):\n  ${offenders.mkString("\n  ")}")
  }
}
