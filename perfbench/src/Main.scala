package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{KgPipeline, KgResult, PipelineConfig, Sessions, SparkEntry}
import graft.dict.{AhoCorasick, EnvoDict}
import graft.stages.IncrementalKg

import Report.{clearCaches, digest, median, noop, timed}

/**
 * The benchmark program: one workload per invocation, a closed loop (one
 * client; the next call starts when the previous one returns), driving
 * graft only through its public entry points. Every timed action ends in
 * the noop sink. Untraced operations give the end-to-end numbers; with
 * `--trace 1` one extra traced operation gives the per-layer numbers.
 *
 *   Main --workload <kg_batch|curate_suite> --seed <n> --seconds <s>
 *        --trace <0|1> --cores <n> --work <dir> --out <report.json>
 *        [--tables <dir>] [--plant-failure 1]
 */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: String, out: String, tables: String,
                        plantFailure: Boolean)

  // Input sizes, fixed per workload; the seed draws the content.
  val BatchConvs = 6000L
  val IncrBatches = 4
  val IncrPerBatch = 300
  val OracleGroups = 10
  // untimed warm-up operations after the cold operation 0: a fixed count,
  // so every run samples the same stretch of the JIT warm-up curve (walls
  // keep falling for about a minute of operations, through local flats
  // that a plateau test stops on)
  val WarmUpOps = 3
  val MinTimedOps = 3

  /** Shuffle partitions: host-sized (two per core) and the same for every
    * leg of a workload, so the single-core leg runs the same plan. */
  def partitions(o: Opts): Int = 2 * o.cores

  /** The 31 `graft.Bench` headline leaves. */
  val Leaves: Seq[String] = Seq(
    "a1_flat_agg", "a3_upui_keepfirst", "a6_topn_abundance",
    "j2_broadcast_dim_join", "j6_matmul_join_agg", "j_star_join",
    "d1_exact_dedup", "d6_ngram_jaccard", "d7_minhash_lsh",
    "d8_simhash_pairs", "e1_cosine_topk", "e3_lsh_topk",
    "d11_chunking", "d12_stratified_sample", "d14_pii_scrub",
    "d15_repetition_signals", "d16_corpus_report",
    "d17_boilerplate_strip", "m5_feature_neardup",
    "d19_sequence_packing", "d20_decontamination",
    "d21_repeated_spans", "e6_semantic_dedup",
    "d22_quality_classifier", "d23_domain_mixture",
    "d24_priority_dedup", "d25_bigram_vocab", "e7_sq_topk",
    "d27_bpe_merges", "d28_bpe_encode", "e8_ivf_sq_topk")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("cores").toInt, kv("work"), kv("out"), kv.getOrElse("tables", ""),
      kv.get("plant-failure").contains("1"))
    val rep = new Report
    rep.info ++= Seq("workload" -> o.workload, "seed" -> o.seed.toString,
      "cores" -> o.cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
    try o.workload match {
      case "kg_batch" => kgBatch(o, rep)
      case "curate_suite" => curateSuite(o, rep)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally SparkSession.getActiveSession.foreach(_.stop())
    rep.write(o.out)
    sys.exit(0)
  }

  // ------------------------------------------------------------ set-up

  /** What a job pays before its first turn, measured once and cold in this
    * fresh JVM: session start (with the GraftExtensions), dictionary load
    * and automaton build, including class loading and one-time
    * initialisers. */
  def setUp(o: Opts, rep: Report): SparkSession = {
    val (spark, s) = timed(Sessions.local(o.cores, partitions(o), appName = s"perfbench-${o.workload}"))
    val (d, l) = timed(EnvoDict.load())
    val (_, b) = timed(AhoCorasick.build(d))
    rep.e2e("setup_s") = (s + l + b, "s", 1)
    rep.layer("Sessions.start_s", s)
    rep.layer("dict.load_s", l)
    rep.layer("dict.build_s", b)
    phase("set-up done")
    spark
  }

  /** Progress line on stderr: the phase reached and the process uptime. */
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] phase $name at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bare-thread AhoCorasick.tag rate (texts/s) over `texts` with `threads`
    * threads, looping for at least `minSec`. */
  def tagRate(ac: AhoCorasick, texts: Array[String], threads: Int, minSec: Double = 0.5): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val deadline = t0 + (minSec * 1e9).toLong
    val chunk = (texts.length + threads - 1) / threads
    val fs = (0 until threads).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val (a, b) = (t * chunk, math.min(texts.length, (t + 1) * chunk))
          var n = 0L
          while (a < b && System.nanoTime() < deadline) {
            var i = a
            while (i < b) { ac.tag(texts(i)); i += 1 }
            n += b - a
          }
          done.addAndGet(n)
        }
      })
    }
    fs.foreach(_.get())
    pool.shutdown()
    done.get() / ((System.nanoTime() - t0) / 1e9)
  }

  /** Tagger roofline and host-drift control: bare tagger rates are measured
    * now and again when the returned function is called after the traced
    * run; the means are the roofline, the n-thread ratio is the drift. */
  private def tagProbe(o: Opts, rep: Report, texts: Array[String]): () => Unit = {
    val ac = KgPipeline.sharedAutomaton
    val b1 = tagRate(ac, texts, 1)
    val bn = tagRate(ac, texts, o.cores)
    () => {
      val a1 = tagRate(ac, texts, 1)
      val an = tagRate(ac, texts, o.cores)
      rep.layer("dict.tag_rate_1t", (a1 + b1) / 2)
      rep.layer("dict.tag_rate_nt", (an + bn) / 2)
      rep.layer("dict.tag_drift", an / bn)
    }
  }

  private def jvmAround[A](rep: Report)(f: => A): A = {
    Tracer.resetHeapPeak()
    val gc0 = Tracer.gcSeconds
    val a = f
    rep.layer("jvm.gc_s", Tracer.gcSeconds - gc0)
    rep.layer("jvm.heap_peak_mb", Tracer.heapPeakMb)
    a
  }

  /** The stages recorded while `f` ran, with the spans `f` opened. */
  private def recorded[A](tracer: Tracer)(f: => A): (A, Seq[StageRec], Seq[Span]) = {
    tracer.clear()
    tracer.recording = true
    val a = f
    val stages = tracer.recordedStages
    tracer.recording = false
    (a, stages, tracer.recordedSpans)
  }

  // ------------------------------------------------------------ kg runs

  final case class KgOp(wall: Double, triples: Long, digest: String, heldBytes: Long, peakBytes: Long)

  /** One timed KG operation: `KgPipeline.run` + the `allTriples` noop sink.
    * The digest, the storage reading and `after` run untimed. */
  def kgOp(spark: SparkSession, tracer: Tracer, turns: DataFrame, cfg: PipelineConfig,
           rep: Report, label: String)(after: KgResult => Unit = _ => ()): Option[KgOp] =
    rep.op(label) {
      tracer.resetCachePeak()
      val (r, w) = timed {
        val r = new KgPipeline(spark, cfg).run(turns)
        noop(r.allTriples)
        r
      }
      val peak = tracer.cachePeakBytes
      val held = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val (n, d) = digest(r.allTriples)
      after(r)
      r.unpersist()
      clearCaches(spark)
      KgOp(w, n, d, held, peak)
    }

  /** Run ops in a closed loop until `budget` seconds have passed (at least
    * `minOps` attempts). */
  private def loop(budget: Double, minOps: Int, maxOps: Int = 200)(f: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (elapsed(t0) < budget && i < maxOps)) { f(i); i += 1 }
  }

  private def checkDigests(rep: Report, name: String, ops: Seq[KgOp]): Unit = {
    val ds = ops.map(op => (op.triples, op.digest)).distinct
    rep.check(name, ds.length == 1, ds.map(d => s"${d._1}/${d._2}").mkString(" vs "))
  }

  /** P/R of annotated_with against the naive substring oracle on a sample
    * of conversations (always including the mega-conversation). */
  private def oracleCheck(rep: Report, turns: DataFrame, r: KgResult, seed: Long): Unit = {
    val convs = turns.select("conv_id").distinct().collect().map(_.getString(0)).sorted
    val sample = (new Random(seed).shuffle(convs.toVector).take(99) :+ "conv00000000").distinct
    val rows = turns.filter(col("conv_id").isin(sample: _*))
      .select("conv_id", "turn_idx", "text").collect()
      .map(x => (x.getString(0), x.getInt(1), x.getString(2))).toSeq
    val exp = new NaiveOracle(KgPipeline.sharedDict).flatTriples(rows)
    val got = r.annotated.filter(col("subj").isin(sample: _*)).select("subj", "obj", "weight")
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2)).toMap
    val tp = (got.keySet intersect exp.keySet).size.toDouble
    val (p, rc) = (if (got.isEmpty) 0.0 else tp / got.size, if (exp.isEmpty) 0.0 else tp / exp.size)
    val wOk = (got.keySet intersect exp.keySet).forall(k => math.abs(got(k) - exp(k)) < 1e-9)
    rep.check("oracle_pr", p == 1.0 && rc == 1.0 && wOk && exp.nonEmpty,
      f"P=$p%.4f R=$rc%.4f weights_ok=$wOk triples=${exp.size} convs=${sample.length}")
  }

  /** The traced KG operation: same run + sink, with spans around run() and
    * the sink. Stages map to layers by span and by operator: in `run`,
    * stages before the first cache-building stage of the first execution
    * are the scan + tagger (`tag`), the rest of that execution is the
    * partcache build (`share`), later executions are the fused scorer
    * (`score`); in `sink`, stages running the co-occurrence shuffled-hash
    * self-join are `cooc`, the rest is the union + noop write (`sink`). */
  private def tracedKgOp(o: Opts, spark: SparkSession, tracer: Tracer, turns: DataFrame,
                         cfg: PipelineConfig, rep: Report, untracedWall: Double): Unit = {
    val probeAfter = tagProbe(o, rep, Inputs.texts(turns, 200000))
    val ((r, w0, w1), stages, spans) = recorded(tracer)(jvmAround(rep) {
      val w0 = System.currentTimeMillis()
      val r = tracer.span("run")(new KgPipeline(spark, cfg).run(turns))
      tracer.span("sink")(noop(r.allTriples))
      (r, w0, System.currentTimeMillis())
    })
    val inRun = stages.filter(s => tracer.spanOf(s, spans).exists(_.name == "run"))
    val execOrder = inRun.groupBy(_.execId).toSeq.sortBy(_._2.map(_.submitMs).min).map(_._1)
    val firstExec = inRun.filter(s => execOrder.headOption.contains(s.execId)).sortBy(_.stageId)
    val firstBuild = firstExec.find(_.buildsCache).map(_.stageId).getOrElse(Int.MaxValue)
    val labelled: Seq[(String, StageRec)] = stages.flatMap { s =>
      tracer.spanOf(s, spans).map(_.name) match {
        case Some("run") =>
          if (execOrder.headOption.contains(s.execId))
            Some((if (s.stageId < firstBuild) "tag" else "share") -> s)
          else Some("score" -> s)
        case Some("sink") =>
          Some((if (tracer.operators(s).exists(_.contains("ShuffledHashJoin"))) "cooc" else "sink") -> s)
        case _ => None
      }
    }
    val (walls, idle) = Tracer.attribute(labelled, w0, w1)
    def stats(l: String) = Tracer.layerStats(labelled.filter(_._1 == l).map(_._2), walls.getOrElse(l, 0.0))
    val (tag, share, score, cooc, sink) = (stats("tag"), stats("share"), stats("score"), stats("cooc"), stats("sink"))
    val traced = (w1 - w0) / 1000.0
    rep.layer("trace.wall_s", traced)
    rep.layer("trace.unattributed_s", idle)
    rep.layer("trace.overhead_frac", traced / untracedWall - 1)
    System.err.println(f"[perfbench] layer shares of the traced wall: tag ${tag.wallS / traced}%.3f " +
      f"share ${share.wallS / traced}%.3f score ${score.wallS / traced}%.3f cooc ${cooc.wallS / traced}%.3f " +
      f"sink ${sink.wallS / traced}%.3f unattributed ${idle / traced}%.3f")

    // the texts the tag layer fed to the tagger: the rows its scans read
    val tagged = labelled.collect { case ("tag", s) => s.inputRecords }.sum
    rep.layer("MentionDetect.wall_s", tag.wallS)
    rep.layer("MentionDetect.cpu_s", tag.cpuS)
    rep.layer("MentionDetect.shuffle_mb", tag.shuffleMb)
    rep.layer("MentionDetect.texts_tagged", tagged)
    // the cached envo-row frame is the first cache run() builds
    val infos = spark.sparkContext.getRDDStorageInfo.sortBy(_.id)
    val shareBytes = infos.headOption.map(i => i.memSize + i.diskSize).getOrElse(0L)
    val shareRows = labelled.collect { case ("share", s) if s.buildsCache => s }
      .map(_.shuffleReadRecords).sum
    rep.layer("Pipeline.share.wall_s", share.wallS)
    rep.layer("Pipeline.share.cpu_s", share.cpuS)
    rep.layer("Pipeline.share.shuffle_mb", share.shuffleMb)
    rep.layer("Pipeline.share.spill_mb", share.spillMb)
    rep.layer("Pipeline.share.cache_mb", shareBytes / 1048576.0)
    rep.layer("Pipeline.share.bytes_per_row", if (shareRows > 0) shareBytes.toDouble / shareRows else 0.0)
    rep.layer("Pipeline.share.task_skew", share.taskSkew)
    rep.layer("LinkScore.wall_s", score.wallS)
    rep.layer("LinkScore.cpu_s", score.cpuS)
    rep.layer("LinkScore.task_skew", score.taskSkew)
    rep.layer("LinkScore.spill_mb", score.spillMb)
    rep.layer("TripleEmit.cooc.wall_s", cooc.wallS)
    rep.layer("TripleEmit.cooc.task_skew", cooc.taskSkew)
    rep.layer("TripleEmit.sink.wall_s", sink.wallS)
    // untimed row counts, while the shared caches are still held
    val hits = r.turnMentions.filter(size(col("mentions")) > 0).count()
    rep.layer("MentionDetect.hit_frac", if (tagged > 0) hits.toDouble / tagged else 0.0)
    rep.layer("LinkScore.rows_out", r.scores.count().toDouble)
    rep.layer("TripleEmit.cooc.pairs_out", r.coOccurrence.count().toDouble)
    r.allTriples.groupBy("pred").count().collect().foreach { row =>
      rep.layer(s"TripleEmit.triples_out.${row.getString(0)}", row.getLong(1).toDouble)
    }
    r.unpersist()
    clearCaches(spark)
    probeAfter()
    // texts tagged per CPU-second of the tag layer, against the bare tagger
    if (tag.cpuS > 0)
      rep.layer("MentionDetect.roofline_frac", tagged / tag.cpuS / rep.layers("dict.tag_rate_1t"))
  }

  def kgBatch(o: Opts, rep: Report): Unit = {
    val spark = setUp(o, rep)
    val path = s"${o.work}/turns"
    Inputs.writeBatchCorpus(spark, path, BatchConvs, o.seed, o.cores * 2)
    val batches =
      if (o.trace) Some(Inputs.writeBatches(spark, s"${o.work}/batches", IncrBatches, IncrPerBatch, o.seed))
      else None
    phase("inputs written")
    val cfg = PipelineConfig(persistIntermediates = true, dedupeTexts = false)
    val tracer = new Tracer(spark.sparkContext)
    val turns = spark.read.parquet(path)
    rep.info("turns") = turns.count().toString
    // operation 0 pays code generation and the first JIT tiers and is
    // checked against the oracle; neither it nor the warm-up operations
    // are timing samples
    val first = kgOp(spark, tracer, turns, cfg, rep, s"run@${o.cores} #0") { r =>
      oracleCheck(rep, turns, r, o.seed)
      phase("oracle checked")
    }
    val warmUp = (1 to WarmUpOps).flatMap(i => kgOp(spark, tracer, turns, cfg, rep, s"warm-up run #$i")())
    phase("warmed up")
    val ops = mutable.ArrayBuffer.empty[KgOp]
    loop(if (o.trace) 0.0 else o.seconds, minOps = if (o.trace) 1 else MinTimedOps) { i =>
      kgOp(spark, tracer, turns, cfg, rep, s"run@${o.cores} #${i + 1}")().foreach(ops += _)
    }
    rep.e2e("op_p50_s") = (median(ops.map(_.wall)), "s", ops.length)
    rep.e2e("cache_peak_mb") = (median(ops.map(_.peakBytes / 1048576.0)), "MB", ops.length)
    rep.e2e("triples_per_s") = (median(ops.map(op => op.triples / op.wall)), "triples/s", ops.length)
    rep.e2e("cache_mb") = (median(ops.map(_.heldBytes / 1048576.0)), "MB", ops.length)
    val checked = first.toSeq ++ warmUp ++ ops
    if (!o.trace || ops.isEmpty) checkDigests(rep, "digest_stable", checked)
    else {
      tracedKgOp(o, spark, tracer, turns, cfg, rep, median(ops.map(_.wall)))
      batches.foreach(storeCycle(o, rep, spark, tracer, _))
      // time-adjacent single-core leg on the same table
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val one = Sessions.local(1, partitions(o), appName = "perfbench-kg_batch-1")
      val single = kgOp(one, new Tracer(one.sparkContext), one.read.parquet(path), cfg, rep, "run@1")().toSeq
      checkDigests(rep, "digest_stable", checked ++ single)
      single.headOption.foreach { op =>
        val eff = (median(ops.map(w => w.triples / w.wall)) / (op.triples / op.wall)) / o.cores
        rep.e2e("scaling_eff") = (eff, "ratio", 1)
        rep.layer("scaling_eff", eff)
      }
    }
  }

  // ------------------------------------------------------------ incremental

  /** The IncrementalKg layer, measured in traced kg_batch runs as one
    * labelled standalone store cycle over the planted batches: a fresh
    * store, one append per batch, a read with every batch dir live, then
    * compaction. The store checks run untimed after the cycle. */
  private def storeCycle(o: Opts, rep: Report, spark: SparkSession, tracer: Tracer,
                         b: Inputs.Batches): Unit = {
    val cfg = PipelineConfig(persistIntermediates = true)
    val dir = s"${o.work}/store"
    var before: (Long, String) = null
    var liveDirs = 0
    val ((appends, read, compact), stages, spans) = recorded(tracer) {
      val appends = b.paths.zipWithIndex.flatMap { case (p, k) =>
        tracer.span(s"append.${k + 1}")(rep.op(s"append ${k + 1}")(
          timed(IncrementalKg.append(spark, dir, spark.read.parquet(p), cfg))))
      }
      liveDirs = Option(new java.io.File(s"$dir/triples").list()).map(_.count(_.startsWith("batch="))).getOrElse(0)
      val read = tracer.span("read")(rep.op("read")(timed(noop(IncrementalKg.triples(spark, dir)))._2))
      before = digest(IncrementalKg.triples(spark, dir))
      val compact = tracer.span("compact")(rep.op("compact")(timed(IncrementalKg.compact(spark, dir))._2))
      (appends, read, compact)
    }
    def within(sp: Span) = stages.filter(s => tracer.spanOf(s, spans).contains(sp))
    val appendSpans = spans.filter(_.name.startsWith("append."))
    rep.layer("IncrementalKg.append.jobs",
      median(appendSpans.map(sp => tracer.jobsBetween(sp.startMs, sp.endMs).toDouble)))
    rep.layer("IncrementalKg.append.cpu_s", median(appendSpans.map(within(_).map(_.cpuNs).sum / 1e9)))
    rep.layer("IncrementalKg.append.write_mb",
      median(appendSpans.map(within(_).map(_.outputB).sum / 1048576.0)))
    rep.layer("IncrementalKg.compact.rewrite_mb",
      spans.filter(_.name == "compact").flatMap(within).map(_.outputB).sum / 1048576.0)
    rep.layer("IncrementalKg.compact.wall_s", compact.getOrElse(0.0))
    rep.layer("IncrementalKg.read.wall_s", read.getOrElse(0.0))
    rep.layer("IncrementalKg.read.live_dirs", liveDirs)
    // the first append of the process pays code generation; not a sample
    rep.e2e("append_p50_s") = (median(appends.drop(1).map(_._2)), "s", appends.length - 1)
    read.foreach(r => rep.e2e("store_read_s") = (r, "s", 1))
    compact.foreach(c => rep.e2e("compact_s") = (c, "s", 1))

    phase("store checks")
    val after = digest(IncrementalKg.triples(spark, dir))
    rep.check("compaction_preserves_triples", before == after, s"$before vs $after")
    val whole = new KgPipeline(spark, cfg).run(spark.read.parquet(b.freshPath))
    val expect = digest(whole.allTriples)
    whole.unpersist(); clearCaches(spark)
    rep.check("store_equals_whole_run", after == expect, s"$after vs $expect")
    val (skipped, delivered) = (appends.drop(1).map(_._1.skippedConvs).sum, b.convsPerBatch.drop(1).sum)
    val planted = b.redelivered.drop(1).sum
    rep.check("skip_frac_exact", skipped == planted && appends.length == b.paths.length,
      s"skipped=$skipped planted=$planted of $delivered")
    val bytes = Report.dirBytes(dir)
    rep.e2e("store_bytes_per_triple") = (bytes.toDouble / after._1, "B", 1)
    rep.layer("IncrementalKg.skip_frac", skipped.toDouble / delivered)
    rep.layer("IncrementalKg.store_mb", bytes / 1048576.0)
    rep.layer("IncrementalKg.bytes_per_triple", bytes.toDouble / after._1)
    Report.rmTree(dir)
    clearCaches(spark)
  }

  // ------------------------------------------------------------ curation

  def curateSuite(o: Opts, rep: Report): Unit = {
    val spark = setUp(o, rep)
    val tracer = new Tracer(spark.sparkContext)
    val dir = o.tables
    val fns = Leaves.map(n => n -> SparkEntry.queries(n)) ++
      (if (o.plantFailure) Seq("planted_throwing_leaf" -> ((_: SparkSession, _: String) => {
        Thread.sleep(500) // long enough to show in a sum if it were ever timed
        throw new IllegalStateException("planted failure")
      })) else Nil)

    // a seed-rotated share of the oracled leaves (every `OracleGroups`-th;
    // consecutive seeds cover them all) is checked against DuckDB
    val oracle = SparkEntry.oracleSql
    val outDir = s"${o.work}/oracle"
    val checked = Leaves.filter(oracle.contains).zipWithIndex
      .collect { case (n, i) if (i + o.seed) % OracleGroups == 0 => n }.toSet
    rep.info("oracled_leaves") = s"${checked.size} of ${Leaves.count(oracle.contains)}: ${checked.toSeq.sorted.mkString(",")}"

    // pruning guard: the timed noop plan of d15 must keep its n-gram
    // projection, which a count() plan drops (that one is planned, not run)
    val guarded = "d15_repetition_signals"
    val plans = mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized(plans += qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    var noopPlan = ""

    /** One pass over the leaves, each through `sink`; the walls and cache
      * peaks of the leaves that succeeded (a failed leaf is counted, not
      * timed). */
    def pass(sink: (String, DataFrame) => Unit, guard: Boolean = false,
             span: Boolean = false): Seq[(String, Double, Long)] = fns.flatMap { case (n, fn) =>
      val g = guard && n == guarded
      def one() = {
        tracer.resetCachePeak()
        if (g) spark.listenerManager.register(listener)
        val w = rep.op(n)(timed(sink(n, fn(spark, dir)))._2)
        val peak = tracer.cachePeakBytes // drains the bus, so the plan is in
        if (g) {
          spark.listenerManager.unregister(listener)
          noopPlan = plans.synchronized(plans.mkString("\n"))
        }
        w.map(w => (n, w, peak))
      }
      val r = if (span) tracer.span(n)(one()) else one()
      clearCaches(spark)
      r
    }
    val noopSink = (_: String, df: DataFrame) => noop(df)

    // the timed pass: each leaf once, as a job meets it first
    phase("timed pass")
    val timedPass = pass(noopSink, guard = true)
    val countPlan = SparkEntry.queries(guarded)(spark, dir).groupBy().count()
      .queryExecution.executedPlan.toString
    rep.check("noop_keeps_ngrams", noopPlan.contains("array_distinct"),
      s"noop plan has n-grams: ${noopPlan.contains("array_distinct")}, count plan: ${countPlan.contains("array_distinct")}")
    val suite = timedPass.map(_._2).sum
    rep.e2e("op_p50_s") = (suite, "s", 1)
    // summed over leaves: one leaf's peak on small tables moves with the seed
    rep.e2e("cache_peak_mb") = (timedPass.map(_._3).sum / 1048576.0, "MB", timedPass.length)
    rep.e2e("suite_s") = (suite, "s", 1)

    // correctness, untimed and after the timed pass (so that pass is equally
    // cold for every seed): the checked leaves write their results for the
    // DuckDB comparison
    phase("oracle outputs")
    checked.toSeq.sorted.foreach { n =>
      try SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      catch { case e: Exception => rep.check(s"oracle_output.$n", ok = false, e.toString.take(300)) }
      finally clearCaches(spark)
    }
    val sqlJson = checked.toSeq.sorted.map { n =>
      "\"" + n + "\":\"" + oracle(n).flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    }.mkString("{", ",", "}")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), sqlJson)

    if (o.trace) {
      val texts = spark.read.parquet(s"$dir/documents.parquet").select("text").collect().map(_.getString(0))
      val probeAfter = tagProbe(o, rep, texts)
      // the traced pass runs warm, so its overhead is taken against an
      // untraced warm pass right before it
      phase("untraced warm pass")
      val warm = pass(noopSink).map(_._2).sum
      phase("traced pass")
      val (tp, stages, spans) = recorded(tracer)(jvmAround(rep)(pass(noopSink, span = true)))
      tp.foreach { case (n, w, _) =>
        rep.layer(s"ops.$n.wall_s", w)
        rep.layer(s"ops.$n.cpu_s",
          stages.filter(s => tracer.spanOf(s, spans).exists(_.name == n)).map(_.cpuNs).sum / 1e9)
      }
      val w0 = spans.map(_.startMs).min
      val w1 = spans.map(_.endMs).max
      val (_, idle) = Tracer.attribute(stages.map(s => "stage" -> s), w0, w1)
      rep.layer("trace.wall_s", tp.map(_._2).sum)
      rep.layer("trace.unattributed_s", idle)
      rep.layer("trace.overhead_frac", tp.map(_._2).sum / warm - 1)
      probeAfter()
    }
  }
}
