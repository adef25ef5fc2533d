package graft.stages

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import graft.functions.GraftFunctions

/** The dim/KB build job's output tables. */
case class BuiltDims(isolationDim: DataFrame, giDim: DataFrame, dataView: DataFrame)

/**
 * Dim/KB build: raw (gi, source, pubmed, row_order[, seq_length]) records
 * → the `isolation` + `gi` dimension tables BioAdapter consumes. This is
 * the Spark re-expression of the reference's one-off SQLite rebuild
 * (seqenv/data_sources/add_tagger_results.py:99-192 run()), including the
 * P8 length cutoff the reference applies at GI generation
 * (seqenv/data_sources/generate.py:50-58).
 *
 * Stage map (reference STEP → here):
 *  - P8: keep sequences shorter than lengthCutoff (when the column exists);
 *  - STEP 2+3: distinct sources in first-appearance order, tagged ONCE
 *    (dedupe-before-tag), sources with no ENVO mention dropped;
 *  - isolation AUTOINCREMENT id ≈ rank in first-appearance order — a
 *    distributed sort + zipWithIndex, NOT a single-partition window
 *    (first_seen = min rowid is unique per source, so the order is total);
 *  - STEP 5: uniquify GIs keep-min-rowid — agg + join-back
 *    (Salting.keepFirstByAgg), skew-proof;
 *  - STEP 6: gi(gi, isokey, pubmed) via the source-text join — GIs whose
 *    source never matched drop out, as in the reference;
 *  - the final `data` VIEW (gi ⋈ isolation) as a composable DataFrame.
 *
 * 100 TB notes: every stage is a join/agg keyed on (source | gi) with no
 * driver-side state; nothing broadcasts because in the real NT database
 * both dims are multi-GB (the BioAdapter read side makes the same call —
 * AQE picks broadcast only when a build side measures small).
 */
object DimBuild {

  def build(spark: SparkSession, raw: DataFrame, lengthCutoff: Int = 4000): BuiltDims = {
    val cut =
      if (raw.columns.contains("seq_length")) raw.filter(col("seq_length") < lengthCutoff)
      else raw

    // The range-partitioned sort samples its input in a job of its own
    // before its map stage runs, and both would run the tagger: the tagged
    // sources are cached for those build-time jobs (zipWithIndex forces
    // them) and released once the sort's shuffle output exists — later
    // actions on the dims read that output, not the tagger.
    val tagged = taggedSources(spark, cut).persist(StorageLevel.MEMORY_AND_DISK)
    val ordered = tagged.orderBy("first_seen")
    val schema = ordered.schema.add("isokey", LongType, nullable = false)
    val indexed = ordered.rdd.zipWithIndex()
    tagged.unpersist()
    val isolationDim = spark.createDataFrame(
        indexed.map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) },
        schema)
      .select(col("isokey"), col("source"), col("envos"))

    val uniq = Salting.keepFirstByAgg(
      cut.select("gi", "source", "pubmed", "row_order"), Seq("gi"), "row_order")

    val giDim = uniq
      .join(isolationDim.select("isokey", "source"), "source")
      .select(col("gi"), col("isokey"), col("pubmed"))

    val dataView = giDim
      .join(isolationDim, "isokey")
      .select(col("gi"), col("isokey"), col("source"), col("envos"), col("pubmed"))

    BuiltDims(isolationDim, giDim, dataView)
  }

  /** STEP 2+3: (source, first_seen, envos) for every distinct source with
    * at least one ENVO mention. */
  private[graft] def taggedSources(spark: SparkSession, cut: DataFrame): DataFrame =
    // One tagger call per distinct source. A non-empty filter over a
    // projected `tag_envo(source)` alias would get the call copied into it
    // and, `source` being the grouping key, pushed below the aggregate —
    // tagging every raw row; MentionDetect.selectNonEmpty keeps the filter
    // above a generator the optimizer cannot push it through.
    MentionDetect.selectNonEmpty(
        cut.groupBy("source").agg(min("row_order").as("first_seen")),
        Seq(col("source"), col("first_seen")),
        GraftFunctions.tag_envo(spark, col("source")), "mentions")
      // the reference's envos blob: ENVO ints flattened across matches in
      // document order (add_tagger_results.py:127-129)
      .select(col("source"), col("first_seen"), expr("flatten(mentions.envos)").as("envos"))
}
