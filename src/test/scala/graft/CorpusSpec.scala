package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, local[4]). */
object SparkTestSession {
  lazy val spark: SparkSession = Engine.session("graft-test", cores = "4")
  val sf: String = "/root/testdata/sf0.001"
}

/** t1 smoke: every declared query executes and returns rows at sf0.001. */
class CorpusSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has unique entry and runs at sf0.001") {
    SparkEntry.all.foreach { case (name, d) =>
      val n = d.fn(spark, sf).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("approx_count_distinct within 5% of exact") {
    import org.apache.spark.sql.functions._
    val li = Engine.table(spark, sf, "lineitem")
    val approx = li.agg(approx_count_distinct("l_orderkey", 0.01)).head.getLong(0)
    val exact = li.agg(countDistinct("l_orderkey")).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("threshold-sweep prefix join prunes below the full posting join") {
    import org.apache.spark.sql.functions._
    // Candidate pairs from the prefix-prefix join must undercut the
    // pair volume the full token self-join would shuffle (sum over
    // tokens of df·(df−1)/2, computable without running it). Asserted
    // here, NOT in the query: a degenerate corpus where every token is
    // rare must produce a correct sweep rather than an exception.
    val docs = Engine.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val (sets, cand) = queries.LlmText.sweepCandidates(spark, docs)
    val candPairs = cand.count()
    val fullJoinPairs = sets
      .select(explode(col("hs")).as("wh"))
      .groupBy(col("wh")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1L) / 2)).head.getDouble(0)
    assert(candPairs > 0, "sweep candidate generation found no pairs")
    assert(candPairs < fullJoinPairs,
      s"prefix filter pruned nothing: $candPairs >= $fullJoinPairs")
  }

  test("builtin stddev/corr agree with decimal-expanded formulation") {
    import org.apache.spark.sql.functions._
    val li = Engine.table(spark, sf, "lineitem")
    val builtin = li.agg(
      stddev_samp("l_quantity"), corr("l_quantity", "l_extendedprice")).head
    val expanded = SparkEntry.queries("q_agg_stats")(spark, sf)
      .agg(avg("std_qty")).head // not same grouping; just sanity on magnitude
    val global = li.agg(variance("l_quantity")).head.getDouble(0)
    assert(math.abs(builtin.getDouble(0) - math.sqrt(global)) < 1e-6)
    assert(builtin.getDouble(1) > -1.0 && builtin.getDouble(1) < 1.0)
  }

  test("a repeated mix above Spark's 100-class codegen cache compiles once") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // 150 distinct generated sources; the salt keeps them new to this
    // JVM whatever ran before. An LRU of 100 over a cyclic mix of 150
    // evicts every class before its reuse, so pass 2 would recompile
    // all of them.
    val salt = System.nanoTime() & 0xffffffL
    val mix = (1 to 150).map(k => (k, s"id * $k + $salt"))
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      mix.foreach { case (k, e) =>
        val got = spark.range(8).selectExpr(e).collect().map(_.getLong(0))
        assert(got.toSeq === (0L until 8L).map(_ * k + salt))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val cold = pass()
    val warm = pass()
    assert(cold >= 150, s"cold pass compiled only $cold classes")
    assert(warm <= 5, s"warm pass recompiled $warm of $cold classes")
  }
}
