package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Sessions, SparkEntry}

/** Time one SparkEntry query in isolation (best-of-N on a quiet machine —
  * Bench numbers are only meaningful when nothing else competes for the
  * VM's cores):
  *   QueryTime <query_name> [sfDir] [iters] [confKey=confValue ...]
  *
  * Every run clears the cache first and computes every output column
  * through the noop sink — count() lets ColumnPruning drop projections
  * under test (d15's whole projection).
  *
  * With conf overrides it becomes an interleaved A/B: after one discarded
  * warmup run, `iters` pairs alternate A (the session's conf) and B (the
  * overrides applied) in ONE session, so host-speed drift hits both arms
  * equally (the time-adjacent-pair rationale from Bench, applied to
  * configs).
  */
object QueryTime {

  /** One run of `query`: cache cleared first (otherwise op-internal
    * persists from an earlier run satisfy this one and the timing measures
    * cache reads, not the op), every column computed, nothing written. */
  private def once(spark: SparkSession, query: (SparkSession, String) => DataFrame,
                   sfDir: String): Double = {
    spark.sharedState.cacheManager.clearCache()
    val t0 = System.nanoTime()
    query(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Evaluate `f` with `overrides` set on the session conf, then put every
    * key back as it was — keys the session never set are unset again. */
  private[graft] def withConf[A](spark: SparkSession, overrides: Seq[(String, String)])(f: => A): A = {
    val baseline = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally baseline.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  def main(args: Array[String]): Unit = {
    val usage = "usage: QueryTime <query_name> [sfDir] [iters] [confKey=confValue ...]"
    require(args.nonEmpty, usage)
    val (positional, kvs) = args.toSeq.partition(!_.contains("="))
    require(positional.length <= 3, usage)
    val name = positional.head
    val sfDir = positional.lift(1).getOrElse("/root/testdata/sf0.1")
    val iters = positional.lift(2).map(_.toInt).getOrElse(3)
    val overrides = kvs.map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus, shufflePartitions = cpus, appName = "graft-qtime")
    spark.read.parquet(s"$sfDir/region.parquet").count() // session warmup
    val fn = SparkEntry.queries(name)
    if (overrides.isEmpty) {
      (1 to iters).foreach { i =>
        println(f"[qtime] $name run$i sec=${once(spark, fn, sfDir)}%.3f")
      }
    } else {
      once(spark, fn, sfDir) // JIT/codegen warmup, discarded
      val pairs = (1 to iters).map { i =>
        val a = once(spark, fn, sfDir)
        val b = withConf(spark, overrides)(once(spark, fn, sfDir))
        println(f"[qtime] $name pair$i A=$a%.3f B=$b%.3f")
        (a, b)
      }
      val (as, bs) = pairs.unzip
      println(f"[qtime] $name A_min=${as.min}%.3f B_min=${bs.min}%.3f " +
        f"A_med=${median(as)}%.3f B_med=${median(bs)}%.3f")
    }
    spark.stop()
  }
}
