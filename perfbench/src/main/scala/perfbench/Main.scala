package perfbench

import graft.lda._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark: one workload, one seed, one run.
  *
  * A run generates its inputs from the seed (untimed), starts and warms
  * the Spark session three times (`setup_s` is the median), then repeats
  * the workload's LDA pipeline while the time window lasts and, on
  * `lda_k10`, runs the battery sample once. Every output is checked;
  * checks are never timed. The last stdout line is the result object.
  *
  * With `--trace 1` a [[JobListener]] is registered on the measured
  * session and the result carries the per-layer metrics instead of the
  * end-to-end ones; spans and both metric sets go to the work directory.
  */
object Main {

  /** LDA leg: train on `docs` generated NYTimes-shape documents (K
    * topics, `iters` iterations with likelihood, averaging after
    * `burnIn`), then fold in `heldDocs` generated held-out documents
    * with `inferIters` iterations, averaging after `inferBurnIn`. The
    * fold-in is short, so it runs `inferRuns` times and reports medians. */
  final case class LdaLeg(k: Int, iters: Int, burnIn: Int, docs: Int, heldDocs: Int,
      inferIters: Int, inferBurnIn: Int, inferRuns: Int)
  /** `battery`: after the LDA passes, run the battery sample once. */
  final case class Workload(lda: LdaLeg, battery: Boolean)

  val Workloads: Map[String, Workload] = Map(
    // the paper's configuration (K=10, α=0.1, β=0.01); Lda.shouldShard
    // picks the flat path. Flat LDA and the battery are both bound by
    // per-job and per-task overhead, which is what this workload stresses.
    "lda_k10" -> Workload(LdaLeg(10, 20, 10, 1000, 300, 15, 10, 7), battery = true),
    // 2300 docs give V ≈ 85k, so the model (V+1)·K·8 exceeds
    // Lda.BroadcastModelBytesMax and Lda.shouldShard picks the sharded path;
    // each iteration moves the whole model, so the chain is kept short;
    // eight iterations give train_tok_per_s a median past the first few,
    // which run slower while the JIT warms up
    "lda_k100" -> Workload(LdaLeg(100, 8, 0, 2300, 200, 2, 1, 3), battery = false))

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, fixture: String, expectedRows: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("fixture"), need("expected"))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Attempted and failed operations. An operation fails when it throws
    * or when a check on its output fails. */
  final class Tally {
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]

    def run[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"$what: $e"
          e.printStackTrace()
          None
      }
    }

    /** Marks an already-counted operation failed when `problems` is non-empty. */
    def check(what: String, problems: Seq[String]): Unit =
      if (problems.nonEmpty) {
        failed += 1
        errors += s"$what: ${problems.take(3).mkString("; ")}"
        System.err.println(s"[perfbench] check failed: $what: ${problems.take(3).mkString("; ")}")
      }
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Warm-up on tiny inputs: one relational query (it touches no battery
    * shared cache) and a tiny corpus through ingest and flat training. */
  def warmup(spark: SparkSession, fixture: String, seed: Long): Unit = {
    import spark.implicits._
    graft.SparkEntry.queries("q01_scan_project")(spark, fixture).count()
    val rows = (0 until 40).flatMap { d =>
      val (ws, cs) = Gen.doc(seed, 0x3A11L, d)
      ws.indices.map(i => (d.toLong, s"w${ws(i)}", cs(i)))
    }
    val bow = rows.toDF("doc_id", "tok", "c")
    val vocab = Corpus.sortedVocab(bow.select("tok")).cache()
    val v = vocab.count().toInt
    val corpus = Corpus.fromBow(bow.join(broadcast(vocab), "tok")
      .select("doc_id", "word_id", "c"), 4, seed).persist(MEMORY_AND_DISK)
    val cfg = LdaConfig(4, 0.1, 0.01, 1, 0, computeLikelihood = true, seed = seed)
    LdaTrainer.train(corpus, v, cfg).release()
    corpus.unpersist()
    vocab.unpersist()
  }

  /** Generated input files and their sizes. */
  final case class Inputs(trainPath: String, heldPath: String,
      train: Gen.Written, held: Gen.Written)

  sealed trait Trained { def release(): Unit; def likelihoods: Array[Double]; def iterMillis: Array[Long] }
  final case class Flat(r: LdaTrainer.Result) extends Trained {
    def release(): Unit = r.release()
    def likelihoods: Array[Double] = r.likelihoods
    def iterMillis: Array[Long] = r.iterMillis
  }
  final case class Sharded(r: ShardedLda.Result, shards: Int) extends Trained {
    def release(): Unit = r.release()
    def likelihoods: Array[Double] = r.likelihoods
    def iterMillis: Array[Long] = r.iterMillis
  }

  /** One pass of the LDA pipeline: seconds per phase and what they did. */
  final case class Rep(ingestS: Double, trainS: Double, reportS: Double,
      inferIngestS: Double, inferS: Double, tokens: Long, heldDocs: Long,
      lastLl: Double, iterMillis: Array[Long], cpuS: Double, path: String) {
    def modelS: Double = ingestS + trainS + reportS
    def phases: Seq[Double] = Seq(ingestS, trainS, reportS, inferIngestS, inferS)
  }

  /** plda text (doc_id, tok, c) → DocStates over `vocab`; words outside
    * it are dropped (the frozen-vocabulary join for held-out docs). */
  private def docStates(raw: DataFrame, vocab: DataFrame, leg: LdaLeg, seed: Long): Dataset[DocState] =
    Corpus.fromBow(raw.join(broadcast(vocab), "tok").select("doc_id", "word_id", "c"), leg.k, seed)

  /** Top-level spans of one LDA pipeline pass. */
  val PipelinePhases = Set("ingest", "train", "report", "infer.ingest", "infer.sweep")

  def ldaRep(spark: SparkSession, leg: LdaLeg, in: Inputs, o: Opts, spans: Spans,
      tally: Tally, heap: Heap): Option[Rep] = {
    val cfg = LdaConfig(leg.k, 0.1, 0.01, leg.iters, leg.burnIn, computeLikelihood = true, seed = o.seed)
    val inferCfg = cfg.copy(totalIterations = leg.inferIters, burnInIterations = leg.inferBurnIn)
    val live = mutable.ArrayBuffer.empty[() => Unit]
    val cpu0 = Host.cpuNanos()
    try {
      val ingested = tally.run("ingest") {
        spans("ingest") {
          val raw = spans("ingest.parse") {
            val df = Corpus.readPldaText(spark, in.trainPath)
            if (o.trace) { df.persist(MEMORY_AND_DISK).count(); live += (() => df.unpersist()) }
            df
          }
          val (vocab, numWords) = spans("ingest.vocab") {
            val v = Corpus.sortedVocab(raw.select("tok")).cache()
            live += (() => v.unpersist())
            (v, v.count().toInt)
          }
          val (corpus, tokens) = spans("ingest.docstate") {
            val c = docStates(raw, vocab, leg, o.seed).persist(MEMORY_AND_DISK)
            live += (() => c.unpersist())
            (c, c.rdd.map(_.numOccurrences.toLong).reduce(_ + _))
          }
          (vocab, numWords, corpus, tokens)
        }
      }
      val (vocab, numWords, corpus, tokens) = ingested.getOrElse(return None)

      val trained = tally.run("train") {
        spans("train") {
          if (!Lda.shouldShard(numWords, leg.k)) Flat(LdaTrainer.train(corpus, numWords, cfg))
          else {
            val s = Lda.recommendedShards(numWords, leg.k)
            Sharded(ShardedLda.train(corpus, numWords, cfg, s), s)
          }
        }
      }.getOrElse(return None)
      live += (() => trained.release())

      val reported = tally.run("report") {
        spans("report") {
          val (counts, averaged) = trained match {
            case Flat(r) => (r.model, r.averaged)
            case Sharded(r, _) =>
              val c = assembleCounts(r.modelRows, numWords, leg.k)
              (c, c.map(_.toDouble))
          }
          val top = LdaModel(counts, averaged, trained.likelihoods, vocab, numWords, cfg)
            .topWords(10).collect()
            .map(r => (r.getAs[Int]("topic"), r.getAs[Number]("cnt").longValue))
          (counts, averaged, top)
        }
      }
      val (counts, averaged, top) = reported.getOrElse(return None)

      val inferRuns = (0 until leg.inferRuns).map { _ =>
        val held = tally.run("infer.ingest") {
          spans("infer.ingest") {
            val raw = Corpus.readPldaText(spark, in.heldPath)
            val h = docStates(raw, vocab, leg, o.seed).persist(MEMORY_AND_DISK)
            live += (() => h.unpersist())
            (h, h.count())
          }
        }
        val (heldDocs, heldN) = held.getOrElse(return None)
        val inferred = tally.run("infer") {
          spans("infer.sweep") {
            trained match {
              case Flat(_) => LdaInfer.infer(heldDocs, counts, numWords, inferCfg).collect()
              case Sharded(r, s) => ShardedLda.infer(heldDocs, r.modelRows, numWords, inferCfg, s).collect()
            }
          }
        }.getOrElse(return None)
        (heldDocs, heldN, inferred)
      }
      val cpuS = (Host.cpuNanos() - cpu0) / 1e9
      heap.sample()

      // output checks, untimed
      val freq = corpus.rdd.treeAggregate(new Array[Long](numWords))(
        (a, d) => {
          var i = 0
          while (i < d.wordIds.length) { a(d.wordIds(i)) += d.offsets(i + 1) - d.offsets(i); i += 1 }
          a
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
      tally.check("train", Checks.model(counts, averaged, freq, tokens, numWords, leg.k) ++
        Checks.likelihood(trained.likelihoods))
      tally.check("report", Checks.topWords(top, leg.k))
      inferRuns.foreach { case (heldDocs, _, inferred) =>
        val heldLen = heldDocs.rdd.map(d => (d.docId, d.numOccurrences)).collect().toMap
        tally.check("infer", Checks.inferred(inferred.map(d => (d.docId, d.topics)), heldLen))
      }

      def last(name: String) = spans.named(name).last.seconds
      def lastMedian(name: String) = median(spans.named(name).takeRight(leg.inferRuns).map(_.seconds))
      Some(Rep(last("ingest"), last("train"), last("report"), lastMedian("infer.ingest"),
        lastMedian("infer.sweep"), tokens, inferRuns.head._2,
        trained.likelihoods.lastOption.getOrElse(Double.NaN), trained.iterMillis, cpuS,
        trained match { case _: Flat => "flat"; case s: Sharded => s"sharded:${s.shards}" }))
    } finally live.reverse.foreach(f => try f() catch { case NonFatal(_) => })
  }

  /** Final sharded counts as the flat (V+1)·K layout, global row last
    * (the same assembly `Lda.fit` does for the sharded path). */
  def assembleCounts(rows: Dataset[WordTopics], numWords: Int, k: Int): Array[Long] = {
    val counts = new Array[Long]((numWords + 1) * k)
    rows.collect().foreach(wt => System.arraycopy(wt.counts, 0, counts, wt.wordId * k, k))
    var w = 0
    while (w < numWords) {
      var t = 0
      while (t < k) { counts(numWords * k + t) += counts(w * k + t); t += 1 }
      w += 1
    }
    counts
  }

  /** Battery entries `lda_k10` runs: a quarter of the relational `q*`
    * entries, a 16th of the `ext_stream_*` entries and a 64th of the other
    * `ext_*` and `lda_*` entries, picked by the CRC-32 of the name
    * (the whole battery takes minutes, too long for one run). The battery
    * reads the committed fixture, not seeded inputs, so set and order are
    * the same for every seed and `ops_s` compares across seeds. */
  def batterySample(names: Iterable[String]): Seq[String] = {
    def every(n: String) =
      if (n.startsWith("ext_stream_")) 16
      else if (n.startsWith("ext_") || n.startsWith("lda_")) 64 else 4
    names.filter { n =>
      val crc = new java.util.zip.CRC32
      crc.update(n.getBytes("UTF-8"))
      crc.getValue % every(n) == 0
    }.toSeq.sorted
  }

  def category(name: String): String =
    if (name.startsWith("ext_stream_")) "stream"
    else if (name.startsWith("ext_")) "ext"
    else if (name.startsWith("lda_")) "lda"
    else "relational"

  final case class Entry(name: String, seconds: Double, span: Option[Span])

  def runBattery(spark: SparkSession, o: Opts, spans: Spans, tally: Tally,
      expected: Map[String, Long]): (Seq[Entry], Double) = {
    val queries = graft.SparkEntry.queries
    val cpu0 = Host.cpuNanos()
    val done = batterySample(queries.keys).flatMap { name =>
      graft.CacheLog.currentQuery = name
      spark.sparkContext.setJobDescription(name)
      try {
        tally.run(name) {
          val t0 = System.nanoTime()
          val rows = spans(s"op:$name")(queries(name)(spark, o.fixture).count())
          (rows, (System.nanoTime() - t0) / 1e9)
        }.map { case (rows, s) =>
          tally.check(name, expected.get(name) match {
            case Some(want) if want == rows => Nil
            case Some(want) => Seq(s"rows $rows, expected $want")
            case None => Seq("no recorded row count")
          })
          Entry(name, s, spans.named(s"op:$name").lastOption)
        }
      } finally {
        graft.CacheLog.currentQuery = ""
        spark.sparkContext.setJobDescription(null)
      }
    }
    (done, (Host.cpuNanos() - cpu0) / 1e9)
  }

  def readExpected(path: String): Map[String, Long] =
    scala.io.Source.fromFile(path).getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r) = l.split("\t"); n -> r.toLong }.toMap

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val leg = wl.lda
    val cpus = Runtime.getRuntime.availableProcessors
    val hostStart = Host.snapshot()
    val expected = if (wl.battery) readExpected(o.expectedRows) else Map.empty[String, Long]
    val dir = s"${o.work}/${o.workload}-seed${o.seed}"
    Files.createDirectories(Paths.get(dir))

    // inputs (untimed)
    val in = {
      val tp = s"$dir/train.txt"
      val hp = s"$dir/heldout.txt"
      Inputs(tp, hp, Gen.write(tp, o.seed, 0xA11CE5L, leg.docs),
        Gen.write(hp, o.seed, 0x4E1DL, leg.heldDocs))
    }
    val inputsJson =
      s"""{"seed":${o.seed},"train_docs":${in.train.docs},"train_tokens":${in.train.tokens},""" +
        s""""train_distinct_words":${in.train.distinctWords},"heldout_docs":${in.held.docs},""" +
        s""""heldout_tokens":${in.held.tokens},"vocab_size":${Gen.Vocab},""" +
        s""""battery_fixture":${if (wl.battery) Json.str(o.fixture) else "null"}}"""
    println(s"""[perfbench] inputs ${inputsJson}""")

    // set-up: session start + warm-up, three times (the first one also
    // warms the JVM); the last session is kept
    var spark: SparkSession = null
    val setupS = (0 until 3).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cpus, o.work)
      warmup(spark, o.fixture, o.seed)
      (System.nanoTime() - t0) / 1e9
    }
    val listener = if (o.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val spans = new Spans(s"${o.workload}-seed${o.seed}-${System.currentTimeMillis}")
    val tally = new Tally
    val heap = new Heap

    // LDA passes while the window lasts (on lda_k10 the battery takes the
    // second half)
    val window0 = System.nanoTime()
    def elapsed = (System.nanoTime() - window0) / 1e9
    val ldaWindow = if (wl.battery) o.seconds * 0.5 else o.seconds.toDouble
    val reps = mutable.ArrayBuffer.empty[Rep]
    var keepGoing = true
    while (keepGoing) {
      val t0 = elapsed
      val r = ldaRep(spark, leg, in, o, spans, tally, heap)
      reps ++= r
      val repS = elapsed - t0
      keepGoing = r.isDefined && elapsed + repS / 2 <= ldaWindow && reps.size < 10
    }
    val (entries, batteryCpuS) =
      if (wl.battery) runBattery(spark, o, spans, tally, expected) else (Nil, 0.0)
    if (wl.battery) heap.sample()
    val windowS = elapsed

    // end-to-end metrics
    def med(f: Rep => Double) = median(reps.map(f).toSeq)
    // the pipeline calls, each fold-in run counted on its own
    val ldaCalls = spans.all.filter(s => s.parent < 0 && PipelinePhases(s.name))
    val opTimes = if (wl.battery) entries.map(_.seconds) else ldaCalls.map(_.seconds)
    val opsS = if (wl.battery) entries.map(_.seconds).sum else med(_.phases.sum)
    // every iteration of the run; passes share their inputs, hence tokens
    val iterS = reps.toSeq.flatMap(_.iterMillis.map(_ / 1e3))
    val tokens = reps.headOption.map(_.tokens.toDouble).getOrElse(Double.NaN)
    val e2e = Seq(
      ("setup_s", "s", median(setupS)),
      ("model_s", "s", med(_.modelS)),
      ("train_tok_per_s", "1/s", tokens / median(iterS)),
      ("infer_docs_per_s", "1/s", med(r => r.heldDocs / (r.inferIngestS + r.inferS))),
      ("final_nll_per_token", "nats", med(r => -r.lastLl / r.tokens)),
      ("ops_s", "s", opsS),
      ("op_p50_s", "s", percentile(opTimes, 0.5)),
      ("cpu_s", "s", med(_.cpuS) + batteryCpuS),
      ("ok_frac", "fraction", 1.0 - tally.failed.toDouble / math.max(1, tally.attempted)))

    // per-layer metrics (traced run only)
    val phaseTotals = listener.map { l =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spans.all.filter(_.parent < 0).groupBy(s => if (s.name.startsWith("op:")) "battery" else s.name)
        .toSeq.sortBy(_._1).map { case (name, ss) =>
          val t = JobTotals(ss.flatMap(l.within))
          s"""${Json.str(name)}:{"wall_s":${Json.num(ss.map(_.seconds).sum)},"jobs":${t.count},""" +
            s""""stages":${t.stages},"tasks":${t.tasks},"run_s":${Json.num(t.runS)},""" +
            s""""cpu_s":${Json.num(t.cpuS)},"gc_s":${Json.num(t.gcS)},""" +
            s""""shuffle_read_mb":${Json.num(t.shuffleReadMb)},"shuffle_write_mb":${Json.num(t.shuffleWriteMb)},""" +
            s""""spill_mb":${Json.num(t.spillMb)},"result_mb":${Json.num(t.resultMb)}}"""
        }.mkString("{", ",", "}")
    }
    val layers = listener.map { l =>
      val opSpans: Seq[Seq[Span]] =
        if (wl.battery) Seq(entries.flatMap(_.span))
        else Seq(ldaCalls)
      Layers.metrics(l, spans, opSpans, entries, reps.toSeq, leg, o.seed, cpus) ++ Seq(
        ("corpus.ingest_s", "s", med(_.ingestS)),
        ("ops.op_p90_s", "s", percentile(opTimes, 0.9)),
        ("heap_live_peak_mb", "MB", heap.peakMb))
    }
    val hostEnd = Host.snapshot()
    spark.stop()

    val correct = tally.failed == 0 && reps.nonEmpty && tally.attempted > 0
    val shown = layers.getOrElse(e2e)
    def metricsJson(ms: Seq[(String, String, Double)]) = ms.map { case (n, u, v) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    val summary =
      s"""{"workload":${Json.str(o.workload)},"seed":${o.seed},"trace":${if (o.trace) 1 else 0},""" +
        s""""cpus":$cpus,"host_start":${hostStart},"host_end":${hostEnd},"inputs":${inputsJson},""" +
        s""""reps":${reps.size},"iter_ms":${reps.map(_.iterMillis.mkString("[", ",", "]")).mkString("[", ",", "]")},""" +
        s""""paths":${reps.map(r => Json.str(r.path)).distinct.mkString("[", ",", "]")},""" +
        s""""window_s":${Json.num(windowS)},"setup_runs_s":${setupS.map(Json.num).mkString("[", ",", "]")},""" +
        s""""battery_s":${entries.map(e => s"${Json.str(e.name)}:${Json.num(e.seconds)}").mkString("{", ",", "}")},""" +
        s""""attempted":${tally.attempted},"failed":${tally.failed},""" +
        s""""errors":${tally.errors.map(Json.str).mkString("[", ",", "]")},""" +
        s""""end_to_end":${metricsJson(e2e)}""" +
        layers.map(ls => s""","per_layer":${metricsJson(ls)}""").getOrElse("") +
        phaseTotals.map(p => s""","phases":$p""").getOrElse("") + "}"
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    Files.writeString(Paths.get(s"${o.work}/summary-$tag.json"), summary + "\n")
    if (o.trace) Files.writeString(Paths.get(s"${o.work}/spans-$tag.json"), spans.toJson)
    println(s"[perfbench] host_start $hostStart")
    println(s"[perfbench] host_end $hostEnd")
    println(s"[perfbench] reps=${reps.size} battery_entries=${entries.size} window_s=${"%.1f".format(windowS)}")
    if (o.trace) println(s"[perfbench] end_to_end (traced) ${metricsJson(e2e)}")
    println(s"""{"correct":$correct,"attempted":${math.max(1, tally.attempted)},"failed":${tally.failed},"metrics":${metricsJson(shown)}}""")
  }
}

/** Output checks. Each returns the problems found (empty when correct). */
object Checks {
  /** Count conservation on the (V+1)·K counts (Σ n(k) = tokens, word
    * rows sum to n(k)) and averaged-model rows equal to word frequencies. */
  def model(counts: Array[Long], averaged: Array[Double], freq: Array[Long],
      tokens: Long, numWords: Int, k: Int): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    val nk = counts.slice(numWords * k, (numWords + 1) * k)
    if (nk.sum != tokens) p += s"sum n(k) = ${nk.sum}, tokens = $tokens"
    val col = new Array[Long](k)
    var w = 0
    while (w < numWords) {
      var t = 0
      var avg = 0.0
      while (t < k) { col(t) += counts(w * k + t); avg += averaged(w * k + t); t += 1 }
      if (math.abs(avg - freq(w)) > 1e-6 * math.max(1.0, freq(w)) && p.size < 10)
        p += s"averaged row $w sums to $avg, frequency ${freq(w)}"
      w += 1
    }
    if (!col.sameElements(nk)) p += "word rows do not sum to n(k)"
    p.toSeq
  }

  def likelihood(lls: Array[Double]): Seq[String] =
    if (lls.isEmpty) Seq("no likelihood trace")
    else if (!lls.forall(v => !v.isNaN && !v.isInfinite)) Seq("non-finite likelihood")
    else if (!(lls.last > lls.head)) Seq(s"likelihood ${lls.last} not above start ${lls.head}")
    else Nil

  /** (topic, count) rows of topWords: K topics, counts descending. */
  def topWords(rows: Seq[(Int, Long)], k: Int): Seq[String] = {
    val byTopic = rows.groupBy(_._1)
    val p = mutable.ArrayBuffer.empty[String]
    if (byTopic.size != k) p += s"${byTopic.size} topics, expected $k"
    if (rows.map(_._1) != rows.map(_._1).sorted) p += "topics out of order"
    byTopic.foreach { case (t, rs) =>
      val cs = rs.map(_._2)
      if (cs != cs.sorted.reverse) p += s"topic $t counts not descending"
      if (cs.size > 10) p += s"topic $t has ${cs.size} words"
    }
    p.toSeq
  }

  /** Each held-out doc's averaged topic counts sum to its in-vocab length. */
  def inferred(docs: Seq[(Long, Array[Double])], lengths: Map[Long, Int]): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    if (docs.size != lengths.size) p += s"${docs.size} docs inferred, ${lengths.size} held out"
    docs.foreach { case (id, ts) =>
      val len = lengths.getOrElse(id, -1)
      if (math.abs(ts.sum - len) > 1e-6 * math.max(1, len) && p.size < 10)
        p += s"doc $id topics sum to ${ts.sum}, length $len"
    }
    p.toSeq
  }
}

/** Peak live heap: old-generation use right after a full collection,
  * sampled at the end of each LDA pass and of the battery (untimed). */
final class Heap {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    val old = (0 until pools.size).map(pools.get).find(_.getName.contains("Old Gen"))
    val used = old.map(_.getUsage.getUsed).getOrElse(
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak / Json.Mb
}

/** Host-noise evidence and process CPU time. */
object Host {
  def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

  private def read(path: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(path))).trim)
    catch { case NonFatal(_) => None }

  /** nproc, 1-minute load, the CPU pressure "some" averages and the
    * cumulative CPU time the hypervisor took from this machine's vCPUs
    * (steal, /proc/stat; compare two snapshots). */
  def snapshot(): String = {
    val load = read("/proc/loadavg").flatMap(_.split("\\s+").headOption).getOrElse("null")
    val steal = read("/proc/stat").flatMap(_.split("\n").headOption)
      .map(_.split("\\s+")).filter(_.length > 8)
      .map(f => s""","steal_s":${f(8).toLong / 100.0}""").getOrElse("")
    val psi = read("/proc/pressure/cpu").flatMap(_.split("\n").find(_.startsWith("some")))
      .map(_.split("\\s+").drop(1).collect {
        case kv if kv.startsWith("avg") => val Array(k, v) = kv.split("="); s""""psi_some_$k":$v"""
      }.mkString(",")).getOrElse("")
    s"""{"nproc":${Runtime.getRuntime.availableProcessors},"load_1m":$load$steal""" +
      (if (psi.nonEmpty) s",$psi" else "") + "}"
  }
}
