package graft.stages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Stage 1 — dictionary mention detection over per-turn text.
 *
 * The Spark-first recast of the reference's tagger stage
 * (seqenv/data_sources/add_tagger_results.py:114-134): the single biggest
 * physical lever is its *dedupe-before-expensive-op* pattern — tag only
 * DISTINCT texts, then join results back to the turns that carry them.
 * Transcript corpora repeat text heavily (tool banners, templates), so at
 * 10^12 turns this cuts automaton work by the duplication factor while the
 * join-back stays a plain shuffled equi-join on a 64-bit text hash that AQE
 * can downgrade to broadcast when the distinct set is small.
 *
 * The automaton (≈6.5k patterns) is a JVM-global built from bundled
 * resources on first use per executor and evaluated via the native
 * TagEnvoMentions Catalyst expression — compute-bound, embarrassingly
 * parallel, no skew (texts are hash-distributed regardless of conversation
 * size), no broadcast or Dataset-encoder round trip.
 */
object MentionDetect {

  /** turns(conv_id, turn_idx, role, text, tool, ts)
    *   -> (conv_id, turn_idx, tool, text_hash, mentions: array<struct>)
    * Only turns with ≥1 mention survive (inner join + non-empty filter),
    * matching the reference's "GIs with envo" restriction
    * (seqenv/analysis.py:333-336).
    *
    * Two physical strategies, same result:
    *  - distinct-text rewrite (default): tag each DISTINCT text once, join
    *    back on a 64-bit hash — wins when the corpus repeats text heavily
    *    (tool banners, templates; the reference's own J4/A8 pattern);
    *  - direct: tag every turn in place — ZERO shuffles, wins when texts
    *    are mostly unique (tagging at 29 MB/s/core is cheaper than
    *    shuffling the text bytes twice).
    * At 100 TB pick per-corpus via `dedupeTexts`; both scale linearly.
    *
    * `dict`: an optional broadcast automaton to tag with INSTEAD of the
    * JVM-global bundled dictionary — the injectable-dictionary path that
    * lets the composed pipeline run under a caller-supplied vocabulary
    * (tests, the restricted-dictionary driver gate, domain dictionaries). */
  def detect(spark: SparkSession, turns: DataFrame,
             dedupeTexts: Boolean = true,
             dict: Option[org.apache.spark.broadcast.Broadcast[graft.dict.AhoCorasick]] = None): DataFrame =
    if (dedupeTexts) detectDistinct(spark, turns, dict)
    else detectDirect(spark, turns, dict)

  // Every tagger call site hands tag_envo's output to exactly ONE operator.
  // The obvious shape — project `tag_envo(text) AS mentions`, then filter
  // `size(mentions) > 0` — runs the automaton up to three times per text:
  // Catalyst pushes a filter over an alias below the projection by COPYING
  // the aliased expression into it (and below a dedup aggregate when the
  // text is a grouping key), and InferFiltersFromConstraints adds an
  // `isnotnull(tag_envo(text))` beside it. A generator is the barrier: a
  // predicate over generator output cannot move below the Generate, and
  // InferFiltersFromGenerate infers nothing from a generator input that is
  // not an attribute. So the array-keeping frames emit the array through a
  // one-element explode and filter above it, and the envo-row frame
  // posexplodes the tagger output directly (explode already drops empty
  // arrays). The tagger stays inside the generator's codegen span.

  private def tagExpr(spark: SparkSession,
      dict: Option[org.apache.spark.broadcast.Broadcast[graft.dict.AhoCorasick]],
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dict match {
      case Some(bc) => graft.functions.GraftFunctions.tag_envo_with(spark, bc, c)
      case None => graft.functions.GraftFunctions.tag_envo(spark, c)
    }

  /** `keep` plus `tag` as column `name`, only for rows whose tag array is
    * non-empty — with `tag` evaluated once per row (see above). */
  private[graft] def selectNonEmpty(df: DataFrame, keep: Seq[org.apache.spark.sql.Column],
      tag: org.apache.spark.sql.Column, name: String): DataFrame =
    df.select(keep :+ explode(array(tag)).as(name): _*)
      .filter(size(col(name)) > 0)

  private def detectDistinct(spark: SparkSession, turns: DataFrame,
      dict: Option[org.apache.spark.broadcast.Broadcast[graft.dict.AhoCorasick]]): DataFrame = {
    val withHash = turns.withColumn("text_hash", xxhash64(col("text")))
    // Tag each DISTINCT text exactly once. The join-back keys on
    // (hash, text): the hash narrows comparisons, the text equality makes
    // a 64-bit collision harmless (at 10^12 distinct texts a hash-only
    // join has non-negligible odds of pairing two different texts).
    val tagged: DataFrame = selectNonEmpty(
      withHash.select(col("text_hash"), col("text")).dropDuplicates("text_hash", "text"),
      Seq(col("text_hash"), col("text")), tagExpr(spark, dict, col("text")), "mentions")
    withHash
      .join(tagged, Seq("text_hash", "text"))
      .select(
        col("conv_id"), col("turn_idx"), col("tool"),
        col("text_hash"), col("mentions"))
  }

  private def detectDirect(spark: SparkSession, turns: DataFrame,
      dict: Option[org.apache.spark.broadcast.Broadcast[graft.dict.AhoCorasick]]): DataFrame =
    selectNonEmpty(turns,
      Seq(col("conv_id"), col("turn_idx"), col("tool"), xxhash64(col("text")).as("text_hash")),
      tagExpr(spark, dict, col("text")), "mentions")

  /** Flatten to one row per mention (for the `mentions` triple sink and
    * evidence tables). */
  def explodeMentions(turnMentions: DataFrame): DataFrame =
    turnMentions
      .select(col("conv_id"), col("turn_idx"),
        posexplode(col("mentions")).as(Seq("mention_pos", "m")))
      .select(col("conv_id"), col("turn_idx"), col("mention_pos"),
        col("m.start").as("start"), col("m.end").as("end"),
        col("m.form").as("form"), col("m.serials").as("serials"),
        col("m.envos").as("envos"))

  /** THE hot intermediate: one row per envo occurrence, all-primitive
    * columns — (conv_id, turn_idx, tool, text_hash, mention_pos, start,
    * end, form, envo). Primitive columns make the columnar cache build
    * ~10× cheaper than persisting the nested mentions array, and every
    * downstream stage (scorer, triple sinks, evidence) reads this one
    * projection. The envo-occurrence granularity is the analog of one
    * decoded GI envo tuple element (seqenv/analysis.py:357). */
  def envoRows(turnMentions: DataFrame): DataFrame =
    envoRowsOf(turnMentions, col("mentions"))

  /** `envoRows(detect(spark, turns, dedupeTexts, dict))` built straight
    * from the turns: the direct strategy posexplodes `tag_envo(text)`
    * itself, so no filter or array frame sits between the tagger and the
    * generator (one tagger call per turn; turns without a mention yield no
    * rows, as the non-empty filter would). */
  def envoRows(spark: SparkSession, turns: DataFrame, dedupeTexts: Boolean,
               dict: Option[org.apache.spark.broadcast.Broadcast[graft.dict.AhoCorasick]]): DataFrame =
    if (dedupeTexts) envoRows(detectDistinct(spark, turns, dict))
    else envoRowsOf(turns.withColumn("text_hash", xxhash64(col("text"))),
      tagExpr(spark, dict, col("text")))

  private def envoRowsOf(base: DataFrame, mentions: org.apache.spark.sql.Column): DataFrame =
    base
      .select(col("conv_id"), col("turn_idx"), col("tool"), col("text_hash"),
        posexplode(mentions).as(Seq("mention_pos", "m")))
      .select(col("conv_id"), col("turn_idx"), col("tool"), col("text_hash"),
        col("mention_pos"),
        col("m.start").as("start"), col("m.end").as("end"),
        col("m.form").as("form"), explode(col("m.envos")).as("envo"))
}
