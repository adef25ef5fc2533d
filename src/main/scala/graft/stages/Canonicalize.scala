package graft.stages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dict.EnvoDict

/**
 * Stage 3 — canonicalization: collapse concept ids to primary ENVO CURIEs
 * and attach preferred display names (the reference's serial→CURIE→name
 * chain, seqenv/analysis.py:416-423,441-468, applied at
 * seqenv/outputs.py:60-65,144-145).
 *
 * Implemented as a broadcast-joined concept dim (≤1640 rows): fully
 * relational, codegen'd, no UDF.
 */
object Canonicalize {

  /** Concept dim: (envo:int, curie:string, name:string). Preferred-name
    * fallback is the CURIE itself (entities outnumber preferred names
    * 1640 vs 1179 in the reference dictionary). Built once per (session,
    * dictionary) — see [[dictFrame]]. */
  def conceptFrame(spark: SparkSession, dict: EnvoDict): DataFrame =
    dictFrame(spark, dict, "concept") {
      import spark.implicits._
      dict.intToCurie.toSeq.sortBy(_._1)
        .map { case (i, curie) => (i, curie, dict.nameOf(curie)) }
        .toDF("envo", "curie", "name")
    }

  // (session, frame name + dict content digest) -> frame
  private val dictFrames =
    new graft.ContextCache[SparkSession, DataFrame](_.sparkContext.isStopped)

  /** A static frame derived only from an (immutable) dictionary, built once
    * per session and dictionary content instead of on every call: one
    * pipeline run asks for the concept dim four times, and each rebuild
    * re-encodes ~1.6k rows on the driver. Keyed by session because a
    * DataFrame belongs to the session that analyzed it. */
  private[graft] def dictFrame(spark: SparkSession, dict: EnvoDict, name: String)(
      build: => DataFrame): DataFrame =
    dictFrames.getOrElseUpdate(spark, s"$name:${dict.contentDigest}")(build)

  /** Attach (curie, name) to any frame carrying an `envo:int` column. */
  def canonicalize(spark: SparkSession, df: DataFrame, dict: EnvoDict): DataFrame =
    df.join(broadcast(conceptFrame(spark, dict)), "envo")
}
