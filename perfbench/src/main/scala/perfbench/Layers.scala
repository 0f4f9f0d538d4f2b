package perfbench

import graft.lda.{DocState, Gibbs, Rng, SplitMix64}

/** Per-layer metrics of a traced run, named after the program's modules:
  * `corpus` (graft.lda.Corpus), `gibbs` (graft.lda.Gibbs), `train` (the
  * loop Lda.shouldShard picked: LdaTrainer or ShardedLda), `infer`
  * (LdaInfer / ShardedLda.infer), `report` (LdaModel) and `ops` (the
  * workload's operations: battery entries on lda_k10, LDA pipeline
  * calls otherwise). Values over repeated passes are medians. */
object Layers {
  import Main.median

  def metrics(l: JobListener, spans: Spans, opPasses: Seq[Seq[Span]],
      entries: Seq[Main.Entry], reps: Seq[Main.Rep], leg: Main.LdaLeg,
      seed: Long, cpus: Int): Seq[(String, String, Double)] = {
    def totals(ss: Seq[Span]) = JobTotals(ss.flatMap(l.within))
    def medSpan(name: String)(f: Span => Double) = median(spans.named(name).map(f))
    def secs(name: String) = medSpan(name)(_.seconds)
    def jobs(name: String)(f: JobTotals => Double) = medSpan(name)(s => f(totals(Seq(s))))
    val trainSpans = spans.named("train")
    val iterS = reps.flatMap(_.iterMillis).map(_ / 1e3)
    val inferSpans = spans.named("infer.ingest").zip(spans.named("infer.sweep"))

    def pass(f: (Seq[Span], JobTotals) => Double) =
      median(opPasses.map(ss => f(ss, totals(ss))))
    val opWall = (ss: Seq[Span]) => ss.map(_.seconds).sum
    val opsWall = opWall(opPasses.flatten)
    def share(cat: String) =
      if (entries.isEmpty) 0.0
      else entries.filter(e => Main.category(e.name) == cat).map(_.seconds).sum / opsWall
    val builders = graft.CacheLog.builds.values.toSet

    Seq(
      ("corpus.parse_s", "s", secs("ingest.parse")),
      ("corpus.vocab_s", "s", secs("ingest.vocab")),
      ("corpus.docstate_s", "s", secs("ingest.docstate")),
      ("corpus.shuffle_write_mb", "MB", jobs("ingest")(_.shuffleWriteMb)),
      ("corpus.jobs", "count", jobs("ingest")(_.count)),
      ("corpus.cpu_s", "s", jobs("ingest")(_.cpuS)),
      ("gibbs.train_samples_per_s", "1/s", kernelRate(seed, leg.k, train = true)),
      ("gibbs.infer_samples_per_s", "1/s", kernelRate(seed, leg.k, train = false)),
      ("train.iter_s_p50", "s", median(iterS)),
      ("train.iter_s_max", "s", if (iterS.isEmpty) Double.NaN else iterS.max),
      ("train.jobs_per_iter", "count", jobs("train")(_.count.toDouble / leg.iters)),
      ("train.ll_jobs", "count", jobs("train")(_.llJobs)),
      ("train.task_cpu_s", "s", jobs("train")(_.cpuS)),
      ("train.gc_s", "s", jobs("train")(_.gcS)),
      ("train.result_mb", "MB", jobs("train")(_.resultMb)),
      ("train.shuffle_write_mb", "MB", jobs("train")(_.shuffleWriteMb)),
      ("train.driver_s", "s", median(trainSpans.map(s => s.seconds - totals(Seq(s)).coveredS(s)))),
      ("infer.ingest_s", "s", secs("infer.ingest")),
      ("infer.sweep_s", "s", secs("infer.sweep")),
      ("infer.task_cpu_s", "s", median(inferSpans.map { case (a, b) => totals(Seq(a, b)).cpuS })),
      ("report.topwords_s", "s", secs("report")),
      ("ops.jobs", "count", pass((_, t) => t.count)),
      ("ops.stages", "count", pass((_, t) => t.stages)),
      ("ops.tasks", "count", pass((_, t) => t.tasks)),
      ("ops.jobs_per_entry_p50", "count", median(opPasses.flatten.map(s => totals(Seq(s)).count.toDouble))),
      ("ops.cpu_util", "fraction", pass((ss, t) => t.cpuS / (opWall(ss) * cpus))),
      ("ops.shuffle_write_mb", "MB", pass((_, t) => t.shuffleWriteMb)),
      ("ops.spill_mb", "MB", pass((_, t) => t.spillMb)),
      ("ops.result_mb", "MB", pass((_, t) => t.resultMb)),
      ("ops.task_retries", "count", pass((_, t) => t.retries)),
      ("ops.cache_build_share", "fraction",
        if (entries.isEmpty) 0.0
        else entries.filter(e => builders(e.name)).map(_.seconds).sum / opsWall),
      ("ops.relational_share", "fraction", share("relational")),
      ("ops.ext_share", "fraction", share("ext")),
      ("ops.stream_share", "fraction", share("stream")),
      ("ops.lda_share", "fraction", if (entries.isEmpty) 1.0 else share("lda")))
  }

  /** Single-thread token-samples/s of Gibbs.sweepDocument at K = `k`, on
    * in-memory NYTimes-shape docs from the run's seed (median of three
    * ~0.3 s trials). `train = false` is the frozen-model fold-in sweep. */
  def kernelRate(seed: Long, k: Int, train: Boolean): Double = {
    val v = Gen.Vocab
    val docs = (0 until 200).map { d =>
      val (ws, cs) = Gen.doc(seed, 0x6B3EL, d)
      DocState.init(d, ws, cs, k, seed)
    }
    val model = new Array[Long]((v + 1) * k)
    docs.foreach { d =>
      var i = 0
      while (i < d.wordIds.length) {
        var j = d.offsets(i)
        while (j < d.offsets(i + 1)) {
          model(d.wordIds(i) * k + d.topics(j)) += 1
          model(v * k + d.topics(j)) += 1
          j += 1
        }
        i += 1
      }
    }
    val hist = docs.map(_.topicHistogram(k))
    val tokens = docs.map(_.numOccurrences.toLong).sum
    val dist = new Array[Double](k)
    val trials = (0 until 3).map { trial =>
      val rng = new SplitMix64(Rng.mix(seed, trial, 0x6B3EL))
      val t0 = System.nanoTime()
      var sweeps = 0
      while (System.nanoTime() - t0 < 300000000L) {
        var i = 0
        while (i < docs.size) {
          val d = docs(i)
          Gibbs.sweepDocument(d.wordIds, d.offsets, d.topics, hist(i), model, v,
            0.1, 0.01, train, rng, dist)
          i += 1
        }
        sweeps += 1
      }
      tokens * sweeps / ((System.nanoTime() - t0) / 1e9)
    }
    median(trials)
  }
}
