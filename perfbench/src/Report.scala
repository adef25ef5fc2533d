package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one benchmark invocation found: operations attempted and failed,
  * correctness checks, and metrics. Written as one JSON file for the
  * runner to turn into the printed result. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  /** End-to-end metrics (the untraced numbers): name -> (value, unit, samples). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  /** Per-layer metrics of the traced run: name -> value. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]

  /** Run one operation: a throwing operation is counted as failed and
    * yields None, so it never contributes a time. */
  def op[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val a = f
      System.err.println(f"[perfbench] $what: ${(System.nanoTime() - t0) / 1e9}%.6f s")
      Some(a)
    } catch {
      case e: Exception =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks(name) = (ok, detail)
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  def layer(name: String, v: Double): Unit = layers(name) = v

  def write(path: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val sb = new StringBuilder("{")
    sb ++= s""""attempted":$attempted,"failed":$failed,"""
    sb ++= failures.map(q).mkString("\"failures\":[", ",", "],")
    sb ++= checks.map { case (k, (ok, d)) => s"${q(k)}:{\"ok\":$ok,\"detail\":${q(d)}}" }
      .mkString("\"checks\":{", ",", "},")
    sb ++= e2e.map { case (k, (v, u, n)) => s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)},\"n\":$n}" }
      .mkString("\"e2e\":{", ",", "},")
    sb ++= layers.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("\"layers\":{", ",", "},")
    sb ++= info.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("\"info\":{", ",", "}")
    sb += '}'
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Report {
  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.toVector.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The timing sink: computes every column of every row and keeps none.
    * `count()` would let the optimizer prune the columns under test. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent digest of a frame: (row count, sum of 64-bit row
    * hashes as an exact decimal). Equal multisets of rows give equal
    * digests whatever the partitioning or core count. */
  def digest(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  def clearCaches(spark: SparkSession): Unit = spark.sharedState.cacheManager.clearCache()
}
