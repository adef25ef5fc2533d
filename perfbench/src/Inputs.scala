package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dict.EnvoDict
import graft.synth.TranscriptGen

/** Workload inputs, all derived from the seed. Generation is untimed: it
  * runs on the set-up's session after set-up is measured and before any
  * operation; the program only ever sees the written tables. */
object Inputs {

  /** kg_batch: the `graft.Bench` corpus shape — verbose, mostly unique
    * multi-sentence turns, conversations written contiguously, conv 0 a
    * 50x mega-conversation. */
  def writeBatchCorpus(spark: SparkSession, path: String, nConvs: Long, seed: Long,
                       partitions: Int): Unit =
    TranscriptGen.generate(spark, nConvs, seed = seed, partitions = partitions, verbosity = 6)
      .write.mode("overwrite").parquet(path)

  final case class Batches(paths: Seq[String], convsPerBatch: Seq[Int], redelivered: Seq[Int],
                           freshPath: String)

  /** The store cycle of traced kg_batch runs: `nBatches` batches of `perBatch` new conversations;
    * every batch after the first also re-delivers `perBatch / 9` already
    * ingested conversations (a tenth of the batch). `freshPath` holds every
    * conversation exactly once, for the whole-corpus comparison run. */
  def writeBatches(spark: SparkSession, dir: String, nBatches: Int, perBatch: Int,
                   seed: Long): Batches = {
    import spark.implicits._
    val redeliver = perBatch / 9
    def write(ids: Seq[Int], p: String, parts: Int): Unit =
      spark.createDataset(ids.map(_.toLong)).repartition(parts)
        .flatMap(i => TranscriptGen.turnsFor(i, seed, meanTurns = 8, skewFactor = 50))
        .write.mode("overwrite").parquet(p)
    val out = (1 to nBatches).map { b =>
      val fresh = ((b - 1) * perBatch until b * perBatch)
      val again =
        if (b == 1) Nil
        else new Random(seed * 31 + b).shuffle((0 until (b - 1) * perBatch).toVector).take(redeliver)
      val ids = new Random(seed * 17 + b).shuffle(fresh.toVector ++ again)
      val p = s"$dir/batch$b"
      write(ids, p, 2)
      (p, ids.length, again.length)
    }
    val freshPath = s"$dir/fresh"
    write(0 until nBatches * perBatch, freshPath, 8)
    Batches(out.map(_._1), out.map(_._2), out.map(_._3), freshPath)
  }

  /** Texts of a table's `text` column, up to `limit`, for the bare-thread
    * tagger probe. */
  def texts(df: DataFrame, limit: Int): Array[String] =
    df.select("text").limit(limit).collect().map(_.getString(0))
}

/** Independent naive substring oracle for flat/proportional annotated_with
  * triples: every dictionary form searched with indexOf, token-boundary and
  * case-sensitive stoplist rules, longest-leftmost non-overlapping spans. */
final class NaiveOracle(dict: EnvoDict) {
  private val forms: Seq[(String, Array[Int])] =
    dict.formToSerials.toSeq.map { case (f, ss) =>
      f -> ss.flatMap(dict.serialToEnvoInt.get).distinct.sorted
    }

  private def isWord(c: Char) = Character.isLetterOrDigit(c)

  def tag(text: String): Seq[Int] = {
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    val cands = mutable.ArrayBuffer.empty[(Int, Int, Array[Int])]
    for ((form, envos) <- forms) {
      var i = lower.indexOf(form)
      while (i >= 0) {
        val end = i + form.length
        if ((i == 0 || !isWord(lower.charAt(i - 1))) &&
            (end == lower.length || !isWord(lower.charAt(end))) &&
            !dict.stoplist.contains(text.substring(i, end)))
          cands += ((i, end, envos))
        i = lower.indexOf(form, i + 1)
      }
    }
    var lastEnd = 0
    val out = mutable.ArrayBuffer.empty[Int]
    for (c <- cands.sortBy(t => (t._1, -t._2)) if c._1 >= lastEnd) { out ++= c._3; lastEnd = c._2 }
    out.toSeq
  }

  /** (conv_id, curie) -> proportional weight, for the given turns. */
  def flatTriples(turns: Seq[(String, Int, String)]): Map[(String, String), Double] = {
    val out = mutable.HashMap.empty[(String, String), Double]
    turns.groupBy(_._1).foreach { case (conv, ts) =>
      val envos = ts.sortBy(_._2).flatMap(t => tag(t._3))
      envos.foreach { e =>
        val k = (conv, dict.intToCurie(e))
        out(k) = out.getOrElse(k, 0.0) + 1.0 / envos.length
      }
    }
    out.toMap
  }
}
