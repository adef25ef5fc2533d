package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}
import graft.tools.QueryTime

/** The timing tools' own contracts: a conf A/B leaves the session as it
  * found it, and a failing leaf fails the bench instead of being timed. */
class TimingSpec extends SparkSpec {

  test("QueryTime overrides restore the session conf; never-set keys are unset again") {
    val unset = "graft.test.neverSetKey"
    val setKey = "spark.sql.shuffle.partitions"
    assert(spark.conf.getOption(unset).isEmpty)
    val before = spark.conf.get(setKey)
    val seen = QueryTime.withConf(spark, Seq(unset -> "on", setKey -> "7")) {
      (spark.conf.get(unset), spark.conf.get(setKey))
    }
    assert(seen == ("on" -> "7"))
    assert(spark.conf.getOption(unset).isEmpty, "a key the session never set must be unset again")
    assert(spark.conf.get(setKey) == before)
    // a run that throws restores the conf too
    intercept[IllegalStateException] {
      QueryTime.withConf(spark, Seq(unset -> "on")) { throw new IllegalStateException("boom") }
    }
    assert(spark.conf.getOption(unset).isEmpty)
  }

  test("Bench.leafRun rethrows a failing leaf instead of timing it") {
    val planted: (SparkSession, String) => DataFrame =
      (s, _) => s.range(1).toDF().filter(raise_error(lit("planted leaf failure")).isNull)
    val e = intercept[Exception](Bench.leafRun(spark, "", planted))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted leaf failure")), e.toString)
    assert(Bench.leafRun(spark, "", (s, _) => s.range(10).toDF()) >= 0.0)
  }
}
