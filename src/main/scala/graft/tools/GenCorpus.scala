package graft.tools

import graft.Sessions
import graft.synth.TranscriptGen

/** Materialize a deterministic synthetic transcript corpus to parquet —
  * the input Bench and CountKg consume. Usage: GenCorpus <nConvs> <outPath>
  * [partitions] [verbosity] */
object GenCorpus {
  def main(args: Array[String]): Unit = {
    val nConvs = args(0).toLong
    val out = args(1)
    val partitions = if (args.length > 2) args(2).toInt else 64
    val verbosity = if (args.length > 3) args(3).toInt else 6
    val spark = Sessions.local(16, shufflePartitions = 64, appName = "graft-gen")
    TranscriptGen.generate(spark, nConvs, partitions = partitions, verbosity = verbosity)
      .write.mode("overwrite").parquet(out)
    println(s"wrote ${spark.read.parquet(out).count()} turns to $out")
    spark.stop()
  }
}
