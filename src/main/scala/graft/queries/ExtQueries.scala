package graft.queries

import graft.Tables
import graft.ext.{Blocklist, Dedup, Drift, Experiment, FeaturePrep, Graph, Unigram, Incremental, Layout, LinearModel, Multimodal, Profile, RankStats, Retrieval, ScaleJoins, Similarity, Sketches, Spectral, SuffixArray, Temporal, TextAnalysis}
import graft.sources.Formats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Extension-operator queries (SURVEY §2.4 / north-star LLM-pipeline
  * surface), every one carrying a DuckDB hash oracle. The trick
  * throughout: any randomness or hashing is md5-derived (MinHash/SimHash/
  * fingerprints, the LSH hyperplane signs, the multimodal stub codec, the
  * train/val/test split), so DuckDB replicates the computation
  * bit-for-bit instead of falling back to the weaker rows-only check. */
object ExtQueries {

  /** MinHash candidate pairs, materialized once per fixture dir and shared
    * by every downstream dedup stage (pairs report, clustering) — the same
    * compute-once-reuse shape a production pipeline uses: banding the
    * corpus is the expensive step, and both the report and the connected
    * components read the SAME candidate table. Mirrors LdaQueries.fitted. */
  private val candCache = scala.collection.concurrent.TrieMap[String, DataFrame]()
  private def candidates(s: SparkSession, d: String): DataFrame =
    candCache.getOrElseUpdate(sessionKey(s, d), {
      graft.CacheLog.built("candCache")
      Dedup.minhashCandidates(Tables.documents(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Session-qualified cache key: cached DataFrames / checkpoints belong
    * to ONE SparkContext — a second session in the same JVM must rebuild
    * rather than inherit handles into a stopped context (the same
    * failure mode the bucketedPair tableExists guard closes). */
  private def sessionKey(s: SparkSession, d: String): String =
    java.lang.System.identityHashCode(s.sparkContext).toHexString + ":" + d

  /** Fixture-table row count, one count job per (fixture dir, table) per
    * JVM — every volume-derived knob (kmeansKFor, lshBitsFor,
    * suffixSliceMod, the exact-sketch capacity) reads the SAME immutable
    * fixture table, so each repeated `.count()` was a redundant scan
    * (keyed by dir alone: a plain parquet count survives session
    * restarts, unlike cached DataFrames). */
  private val countCache = scala.collection.concurrent.TrieMap[String, Long]()
  private def tableCount(s: SparkSession, d: String, name: String): Long =
    countCache.getOrElseUpdate(d + "#" + name,
      Tables.table(s, d, name).count())

  def minhashPairs(s: SparkSession, d: String): DataFrame =
    candidates(s, d).orderBy("doc_a", "doc_b")

  /** PageRank over the shared near-dup candidate graph. */
  def pageRankQ(s: SparkSession, d: String): DataFrame =
    Graph.pageRank(candidates(s, d)).orderBy("doc_id")

  /** Triangle census + clustering coefficient of the shared near-dup
    * candidate graph (reads the same cached pair table as PageRank). */
  def trianglesQ(s: SparkSession, d: String): DataFrame =
    Graph.triangleStats(candidates(s, d)).orderBy("n_edges")

  /** DSIR importance weights toward the Spanish-language target domain. */
  def importanceWeightsQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.importanceWeights(Tables.documents(s, d), col("lang") === "es")
      .orderBy("doc_id")

  /** Per-user EWMA of event values (alpha = 0.2, event_id order). */
  def ewmaQ(s: SparkSession, d: String): DataFrame =
    Temporal.ewma(Tables.events(s, d)).orderBy("event_id")

  /** KLL-style quantile sketch over event values, run in EXACT mode:
    * capacity self-sizes to the next power of two ≥ n (one count-
    * pushdown job), so the summary is exact and the DuckDB oracle holds
    * at ANY sweep scale — the r12 sf1 twin broke the former fixed 2^17
    * ("≥ n at every fixture sf" stopped being true one decade up). The
    * sub-capacity approximate path is the 100 TB story and stays
    * spec-bounded in QuantileSketchSpec; exact mode is the oracle twin,
    * and `requireExact` still fails loudly if the sizing is ever
    * bypassed. */
  def quantileSketchQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cap = ceilPow2(math.max(1L << 17, tableCount(s, d, "events")))
    Sketches.quantilesOf(ev, col("value"), cap,
      Seq(0.1, 0.5, 0.9, 0.99), requireExact = true).orderBy("q")
  }

  /** Smallest power of two ≥ n (capacity sizing for exact-mode sketch
    * entries; n bounded by the Int sketch-capacity domain). */
  private def ceilPow2(n: Long): Int = {
    require(n >= 1 && n <= (1L << 30), s"capacity out of range: $n")
    var c = 1
    while (c < n) c <<= 1
    c
  }

  def jaccardTop(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardTopPairs(Tables.documents(s, d), 10)

  def simhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashes(Tables.documents(s, d)).orderBy("doc_id")

  /** Exact all-pairs entries run on the deterministic md5 eval slice
    * (no-op ≤ 16384 vectors — sf0.01/sf0.1 fixtures unaffected): the
    * sf10 sweep caught the unsliced form at 4e10 pairs. The corpus-
    * scale paths are ext_lsh_pairs_top10 / ext_semdedup. */
  def cosinePairs(s: SparkSession, d: String): DataFrame =
    Similarity.cosinePairsTopK(
      Similarity.evalSlice(Tables.embeddings(s, d)), 10)

  def nearDup(s: SparkSession, d: String): DataFrame =
    Similarity.nearDupPairs(
      Similarity.evalSlice(Tables.embeddings(s, d)), threshold = 0.45)

  def annTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.annTopK(e, e.where(col("vec_id") < 5), 5)
  }

  def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.ivfTopK(e, e.where(col("vec_id") < 5), 5)
  }

  /** k-means assignment (k=8, 1 Lloyd iter), computed once per fixture
    * dir and shared by ext_kmeans + the cluster-agreement family
    * (B-cubed, Rand/ARI, NMI) — same compute-once shape as
    * [[candidates]]: training the clustering is the expensive step,
    * every eval reads the SAME assignment table. */
  private val clusterCache = scala.collection.concurrent.TrieMap[String, DataFrame]()
  private def clusterAssign(s: SparkSession, d: String): DataFrame =
    clusterCache.getOrElseUpdate(sessionKey(s, d), {
      graft.CacheLog.built("clusterCache")
      Similarity.kmeans(Tables.embeddings(s, d), k = 8, iters = 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  def kmeansAssign(s: SparkSession, d: String): DataFrame =
    clusterAssign(s, d).orderBy("vec_id")

  /** Calinski–Harabasz variance-ratio validity of the kmeans clustering. */
  def chIndexQ(s: SparkSession, d: String): DataFrame =
    Similarity.chIndex(Tables.embeddings(s, d))

  /** Davies–Bouldin scatter/separation validity of the same clustering. */
  def dbIndexQ(s: SparkSession, d: String): DataFrame =
    Similarity.dbIndex(Tables.embeddings(s, d))

  /** V-measure (homogeneity/completeness) of the same clustering. */
  def vMeasureQ(s: SparkSession, d: String): DataFrame =
    Similarity.vMeasure(clusterAssign(s, d),
      Tables.embeddings(s, d).select(col("vec_id"), col("label")))

  /** Rand index + ARI of the kmeans clustering vs ground-truth labels. */
  def clusterAriQ(s: SparkSession, d: String): DataFrame =
    Similarity.randIndex(clusterAssign(s, d),
      Tables.embeddings(s, d).select(col("vec_id"), col("label")))

  /** Normalized mutual information of the same clustering vs labels. */
  def clusterNmiQ(s: SparkSession, d: String): DataFrame =
    Similarity.clusterNmi(clusterAssign(s, d),
      Tables.embeddings(s, d).select(col("vec_id"), col("label")))

  def quantizeInt8(s: SparkSession, d: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(s, d)).orderBy("vec_id", "pos")

  def semDedupQ(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // k from corpus volume (Similarity.kmeansKFor: mean cluster size ≤
    // 512, pow2-stepped, integer-exact) — fixed k makes the
    // within-cluster pair join quadratic in the corpus; the oracle
    // derives the identical k from COUNT(*). k=8 at fixture scales,
    // 64 at the sf1 twin, 512 at sf10.
    Similarity.semDedup(emb,
      k = Similarity.kmeansKFor(tableCount(s, d, "embeddings")),
      iters = 1, tau = 0.45)
  }
      .orderBy("vec_id")

  /** Fixed probe terms for the BM25 query — drawn from the fixture vocab. */
  val Bm25Terms: Seq[String] = Seq("join", "hash", "scan")

  def bm25Rank(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bm25(Tables.documents(s, d), Bm25Terms).orderBy("doc_id")

  /** Hybrid retrieval: BM25 over the probe terms fused with cosine
    * ranking against query vector 0 by reciprocal-rank fusion. */
  def rrfFusionQ(s: SparkSession, d: String): DataFrame =
    Retrieval.hybridSearch(Tables.documents(s, d), Tables.embeddings(s, d), Bm25Terms)
      .orderBy(col("rrf").desc, col("doc_id"))

  /** Segment-sharded delta-encoded inverted index, flattened to scalar
    * rows for the hash compare (segment width 100 docs → 5 segments at
    * sf0.01, so the sharding path is actually exercised). */
  def invertedIndexQ(s: SparkSession, d: String): DataFrame =
    Retrieval.invertedIndexFlat(Tables.documents(s, d), 100L)
      .orderBy("tok", "segment", "pos")

  /** BM25 served from the inverted index + doc-length sidecar — must
    * produce bit-identical scores to ext_bm25 (same oracle SQL). */
  def bm25FromIndexQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Retrieval.bm25FromIndex(Retrieval.invertedIndex(docs, 100L),
      Retrieval.docLengths(docs), Bm25Terms).orderBy("doc_id")
  }

  /** Per-source unigram KL divergence from the corpus distribution. */
  def domainKlQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.domainKl(Tables.documents(s, d)).orderBy("stratum")

  /** Per-source OOV rate against the frozen Spanish-document vocabulary
    * (the Q09 fixture vocab). */
  def oovRateQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.oovRate(Tables.documents(s, d), Tables.langVocab(s, d, "es"))
      .orderBy("stratum")

  /** PQ-ADC approximate inner-product top-25 against query vector 0
    * (4 subspaces × 8 centroids over the 64-dim embeddings). */
  def pqTopkQ(s: SparkSession, d: String): DataFrame =
    Similarity.pqTopK(Tables.embeddings(s, d), books0 = Some(pqBooks(s, d)))
      .orderBy(col("pq_ip").desc, col("vec_id"))

  /** Shared PQ subspace codebooks: pqTopK and ivfPqTopK train IDENTICAL
    * books (probe-all parity depends on it), so the battery trains the
    * m lloyd runs once — pure data (m·k·dim doubles), so keyed by
    * fixture dir alone, like probeWCache. */
  private val pqBooksCache =
    scala.collection.concurrent.TrieMap[String, Seq[Seq[(Int, Array[Double], Double)]]]()
  private def pqBooks(s: SparkSession, d: String): Seq[Seq[(Int, Array[Double], Double)]] =
    pqBooksCache.getOrElseUpdate(d, {
      graft.CacheLog.built("pqBooksCache")
      Similarity.pqCodebooks(Tables.embeddings(s, d))
    })

  /** Temperature-α=0.5 mixture allocation of a 100k-token budget across
    * sources — exact Hamilton apportionment (Σ alloc = 100000). */
  def mixtureAllocQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.temperatureAllocation(Tables.documents(s, d))
      .orderBy("stratum")

  /** One BPE training per fixture dir, shared by the merge-table and
    * piece-vocabulary queries (the candidates/fitted memo pattern —
    * training is the expensive step, both reports read the result). */
  private val bpeCache =
    scala.collection.concurrent.TrieMap[String, (Seq[(Int, String, String, Long)], DataFrame)]()
  private def bpeTrained(s: SparkSession, d: String) =
    bpeCache.getOrElseUpdate(sessionKey(s, d), {
      graft.CacheLog.built("bpeCache")
      val (m, v) = graft.ext.Bpe.train(Tables.documents(s, d), 10)
      (m, v.localCheckpoint(true))
    })

  /** Shared WordPiece piece table per fixture (vocab mining is the
    * expensive step; the vocab dump and the encoder read the SAME table
    * — the bpeTrained memo pattern). */
  private val wpCache = scala.collection.concurrent.TrieMap[String, DataFrame]()
  private def wpVocab(s: SparkSession, d: String): DataFrame =
    wpCache.getOrElseUpdate(sessionKey(s, d), {
      graft.CacheLog.built("wpCache")
      graft.ext.Wordpiece.vocab(Tables.documents(s, d)).localCheckpoint(true)
    })

  /** Encoded word table, shared by the encode dump and the fertility
    * report (the piece table is the same `wpVocab`; the greedy matcher
    * runs once per fixture). */
  private val wpEncCache = scala.collection.concurrent.TrieMap[String, DataFrame]()
  private def wpEncoded(s: SparkSession, d: String): DataFrame =
    wpEncCache.getOrElseUpdate(sessionKey(s, d), {
      graft.CacheLog.built("wpEncCache")
      graft.ext.Wordpiece.encode(Tables.documents(s, d), wpVocab(s, d))
        .localCheckpoint(true)
    })

  /** Frequency-mined WordPiece piece table (top-50 multi-char pieces per
    * form + the single-char coverage floor). */
  def wordpieceVocabQ(s: SparkSession, d: String): DataFrame =
    wpVocab(s, d).orderBy("cont", "piece")

  /** Greedy longest-match-first WordPiece encode of every distinct
    * corpus word under the shared piece table. */
  def wordpieceEncodeQ(s: SparkSession, d: String): DataFrame =
    wpEncoded(s, d).orderBy("tok")

  /** DoReMi-style excess-loss domain reweighting of the 20 sources with
    * a 100k-token budget (η = 2). */
  def doremiQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.domainReweight(Tables.documents(s, d)).orderBy("stratum")

  /** Per-source WordPiece fertility (pieces per token occurrence) under
    * the shared piece table — the standard tokenizer-quality report
    * ("which domains does this tokenizer fragment worst"). Integer
    * piece/token sums, one exact division. */
  def tokenizerFertilityQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val np = wpEncoded(s, d).select(col("tok"), col("n_pieces"))
    docs.select(col("source"),
        explode(graft.ext.Dedup.tokens(col("text"))).as("tok"))
      .join(broadcast(np), "tok")
      .groupBy("source")
      .agg(count(lit(1)).as("n_toks"),
        sum(col("n_pieces")).as("n_pieces"),
        round(sum(col("n_pieces")).cast("double") / count(lit(1)), 4)
          .as("fertility"))
      .orderBy("source")
  }

  /** IVF-PQ top-10 against query vector 0: coarse 8-list quantizer,
    * 2 probes, 4×8 subspace codebooks — the composed production ANN
    * index (FAISS IVFPQ, direct-coding variant). */
  def ivfPqTopkQ(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqTopK(Tables.embeddings(s, d), books0 = Some(pqBooks(s, d)))
      .orderBy(col("ivfpq_ip").desc, col("vec_id"))

  /** BPE merge table: the first 10 corpus-weighted merges. */
  def bpeTrainQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrained(s, d)._1.toDF("step", "a", "b", "n").orderBy("step")
  }

  /** Trained-tokenizer piece vocabulary: every BPE piece with its
    * weighted corpus count after the 10 trained merges. */
  def bpeEncodeQ(s: SparkSession, d: String): DataFrame =
    graft.ext.Bpe.pieceCounts(bpeTrained(s, d)._2).orderBy("piece")

  def lmScoreQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.lmScore(Tables.documents(s, d)).orderBy("doc_id")

  def langId(s: SparkSession, d: String): DataFrame =
    TextAnalysis.languageId(Tables.documents(s, d)).orderBy("doc_id")

  def quality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityMetrics(Tables.documents(s, d)).orderBy("doc_id")

  def gopherQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.gopherQuality(Tables.documents(s, d)).orderBy("doc_id")

  /** Gram length for the ExactSubstr span queries — one constant feeds
    * the Spark calls and both generated oracles. */
  val SpanGramLen = 40

  def repeatedSpansQ(s: SparkSession, d: String): DataFrame =
    Dedup.repeatedSpans(Tables.documents(s, d), l = SpanGramLen)
      .orderBy("doc_id", "span_start")

  def removeSpansQ(s: SparkSession, d: String): DataFrame =
    Dedup.removeRepeatedSpans(Tables.documents(s, d), l = SpanGramLen)
      // identically-true guard referencing clean_text: without it the
      // bench's count() lets Catalyst eliminate the whole span subtree
      // (left join on a grouped key with no referenced columns), timing
      // an empty plan; row set is provably unchanged
      .where(length(col("clean_text")) >= 0)
      .orderBy("doc_id")

  def tokenStats(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenStats(Tables.documents(s, d)).orderBy("doc_id")

  def fingerprint(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprints(Tables.documents(s, d)).orderBy("doc_id")

  def tfidf(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfIdf(Tables.documents(s, d)).orderBy("doc_id", "tok")

  def hashSplit(s: SparkSession, d: String): DataFrame =
    TextAnalysis.hashSplit(Tables.documents(s, d)).orderBy("doc_id")

  /** As-of join: each 'view' event picks up the latest prior-or-equal
    * 'purchase' of the same user (point-in-time feature lookup). */
  def asofViewPurchase(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val views = e.where(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = e.where(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value")
      .withColumnRenamed("event_id", "pid")
    Temporal.asofJoin(views, purchases, "user_id", "ts",
        payloadCols = Seq("pid", "value"), prefix = "purchase_")
      .select(col("event_id"), col("purchase_pid").as("purchase_id"),
        col("purchase_value"))
      .orderBy("event_id")
  }

  def sessionize(s: SparkSession, d: String): DataFrame =
    Temporal.sessionAgg(Tables.events(s, d)).orderBy("user_id", "session_idx")

  /** Nearest purchase (either direction, ≤1h, ties backward) per view. */
  def nearestViewPurchase(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val views = e.where(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = e.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(min("event_id").as("pid"))
    Temporal.nearestJoin(views, purchases, "user_id", "ts",
        payloadCols = Seq("pid"), toleranceSec = 3600L)
      .select(col("event_id"), col("near_pid").as("pid"), col("dt_us"))
      .orderBy("event_id")
  }

  def cohortRetention(s: SparkSession, d: String): DataFrame =
    Temporal.cohortRetention(Tables.events(s, d))

  def eventTransitions(s: SparkSession, d: String): DataFrame =
    Temporal.eventTransitions(Tables.events(s, d))

  def madOutliers(s: SparkSession, d: String): DataFrame =
    Temporal.madOutliers(Tables.events(s, d))

  def rfm(s: SparkSession, d: String): DataFrame =
    Temporal.rfmSegments(Tables.events(s, d))

  def transitionEntropy(s: SparkSession, d: String): DataFrame =
    Temporal.transitionEntropy(Tables.events(s, d))

  def histogram(s: SparkSession, d: String): DataFrame =
    Temporal.valueHistogram(Tables.events(s, d))

  def gini(s: SparkSession, d: String): DataFrame =
    Temporal.giniByGroup(Tables.events(s, d))

  def fano(s: SparkSession, d: String): DataFrame =
    Temporal.fanoHourly(Tables.events(s, d))

  def decayed(s: SparkSession, d: String): DataFrame =
    Temporal.decayedValue(Tables.events(s, d))

  def hodChi2(s: SparkSession, d: String): DataFrame =
    Temporal.hourOfDayChi2(Tables.events(s, d))

  def eventPaths(s: SparkSession, d: String): DataFrame =
    Temporal.topEventPaths(Tables.events(s, d))

  /** Suffix-rank table on a volume-derived doc slice, built once per
    * fixture dir and shared by ext_suffix_array AND ext_longest_repeat
    * (the candCache pattern) — the prefix-doubling rounds are the
    * battery's single most expensive build, and both entries read the
    * identical table.
    *
    * The slice modulus is the smallest power of 10 in [10, 100000] that
    * keeps ≤ 5000 docs (integer comparisons; [[suffixModSql]] is the
    * oracle's scalar-subquery twin over COUNT(*)). The r14 tier-4 sf10
    * sweep measured the former FIXED 10% slice at 77×/decade on
    * ext_suffix_array: the per-CHARACTER output grew linearly with the
    * corpus and the tail is a single-task ordered write. m = 10 at every
    * fixture scale AND the sf1 twin (50k docs / 10 = 5000), so committed
    * artifacts are untouched; sf10's 500k docs step to m = 100. */
  private val saCache = scala.collection.concurrent.TrieMap[String, DataFrame]()
  // slice-derivation constants, shared verbatim by suffixSliceMod and its
  // SQL twin below (interpolated, not restated — a changed bound that only
  // one side followed would desync exactly at sweep scales)
  private val SuffixSliceMinMod = 10L
  private val SuffixSliceMaxMod = 100000L
  private val SuffixSliceTargetDocs = 5000L
  private def suffixSliceMod(nDocs: Long): Long = {
    var m = SuffixSliceMinMod
    while (m < SuffixSliceMaxMod && nDocs / m > SuffixSliceTargetDocs) m *= 10
    m
  }
  private val suffixModSql =
    "(SELECT CAST(MIN(m) AS BIGINT) FROM " +
      "(SELECT unnest([" + Iterator.iterate(SuffixSliceMinMod)(_ * 10)
        .takeWhile(_ <= SuffixSliceMaxMod).mkString(",") + "]) AS m), " +
      "(SELECT COUNT(*) AS n FROM documents) cn " +
      s"WHERE m = $SuffixSliceMaxMod OR cn.n // m <= $SuffixSliceTargetDocs)"
  private def suffixSlice(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.where(col("doc_id") % suffixSliceMod(tableCount(s, d, "documents")) === 0)
  }
  private def sharedSuffixRanks(s: SparkSession, d: String): DataFrame =
    saCache.getOrElseUpdate(sessionKey(s, d), {
      graft.CacheLog.built("saCache")
      SuffixArray.suffixRanks(suffixSlice(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Corpus-wide suffix ranks on a 10% doc slice (prefix doubling is
    * ~log(maxlen) global sort rounds — the slice keeps the battery entry
    * proportionate while the operator itself is fully distributed). */
  def suffixArray(s: SparkSession, d: String): DataFrame =
    sharedSuffixRanks(s, d)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("srank"))
      .orderBy("doc_id", "pos")

  def sortedNeighborhood(s: SparkSession, d: String): DataFrame =
    Dedup.sortedNeighborhoodPairs(Tables.documents(s, d))

  def zipf(s: SparkSession, d: String): DataFrame =
    TextAnalysis.zipfFit(Tables.documents(s, d))

  def coherence(s: SparkSession, d: String): DataFrame =
    TextAnalysis.umassCoherence(Tables.documents(s, d))

  def heaps(s: SparkSession, d: String): DataFrame =
    TextAnalysis.heapsFit(Tables.documents(s, d))

  def welch(s: SparkSession, d: String): DataFrame =
    Drift.welchVsRest(Tables.documents(s, d))

  /** Top-10 longest repeated substrings over the same doc slice, reading
    * the shared suffix-rank table instead of rebuilding it. */
  def longestRepeats(s: SparkSession, d: String): DataFrame =
    SuffixArray.longestRepeatsOn(sharedSuffixRanks(s, d), suffixSlice(s, d))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("len"))
      .orderBy(col("len").desc, col("doc_id"), col("pos"))

  /** Conversion funnel view → click → purchase, strictly ordered per user. */
  def funnel(s: SparkSession, d: String): DataFrame =
    Temporal.funnel(Tables.events(s, d), Seq("view", "click", "purchase"))
      .orderBy("user_id")

  /** Top-20 tokens by mutual information with the language label. */
  def tokenMiQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenLabelMi(Tables.documents(s, d))

  /** 10%-trimmed mean event value per type. */
  def trimmedMeanQ(s: SparkSession, d: String): DataFrame =
    Temporal.trimmedMean(Tables.events(s, d))

  /** Per-doc char-bigram entropy (gibberish detector). */
  def charEntropyQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.charEntropy(Tables.documents(s, d)).orderBy("doc_id")

  /** Rolling median of the last 10 event values per user. */
  def rollingMedianQ(s: SparkSession, d: String): DataFrame =
    Temporal.rollingMedian(
        Tables.events(s, d).select("event_id", "user_id", "value"),
        "user_id", Seq("event_id"), "value", 9)
      .select(col("event_id"), col("user_id"), round(col("value"), 4).as("value"),
        col("rolling_median"))
      .orderBy("event_id")

  /** Stage-advance latency percentiles of the same funnel. */
  def funnelLatencyQ(s: SparkSession, d: String): DataFrame =
    Temporal.funnelLatency(Tables.events(s, d), Seq("view", "click", "purchase"))

  /** Event-type co-occurrence affinity (item-item CF primitive). */
  def typeCooccurQ(s: SparkSession, d: String): DataFrame =
    Temporal.typeCooccurrence(Tables.events(s, d))

  /** Per-doc Flesch–Kincaid grade + reading ease. */
  def readabilityQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.readability(Tables.documents(s, d)).orderBy("doc_id")

  /** TTR / Herdan / Yule's K / Simpson per source. */
  def lexicalDiversityQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.lexicalDiversity(Tables.documents(s, d))

  /** Benford first-digit audit of event values. */
  def benfordQ(s: SparkSession, d: String): DataFrame =
    Profile.benford(Tables.events(s, d))

  /** CUSUM level-shift change point per event type. */
  def cusumQ(s: SparkSession, d: String): DataFrame =
    Temporal.cusumChangePoint(Tables.events(s, d))

  /** Lag-1..3 autocorrelation of hourly event counts per type. */
  def autocorrQ(s: SparkSession, d: String): DataFrame =
    Temporal.hourlyAutocorr(Tables.events(s, d))

  /** Positional-index phrase search for the corpus's top bigram. */
  def phraseSearchQ(s: SparkSession, d: String): DataFrame =
    Retrieval.topBigramOccurrences(Tables.documents(s, d))

  /** Per-node local clustering coefficient over the minhash pair graph. */
  def clusteringCoefQ(s: SparkSession, d: String): DataFrame =
    Graph.localClustering(candidates(s, d))

  /** CCNet-style per-source perplexity tertiles under the bigram LM. */
  def pplBucketsQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.pplBuckets(Tables.documents(s, d))

  /** Tukey IQR-fence outlier census per event type. */
  def iqrOutliersQ(s: SparkSession, d: String): DataFrame =
    Temporal.iqrOutliers(Tables.events(s, d))

  /** Two-proportion z-test on purchase conversion by user-id parity. */
  def abTestQ(s: SparkSession, d: String): DataFrame =
    Temporal.abTest(Tables.events(s, d))

  /** XmR control-chart summary per event type. */
  def controlChartQ(s: SparkSession, d: String): DataFrame =
    Temporal.controlChart(Tables.events(s, d))

  /** Stationary distribution of the event-type Markov chain. */
  def markovStationaryQ(s: SparkSession, d: String): DataFrame =
    Temporal.markovStationary(Tables.events(s, d))

  /** Jensen–Shannon divergence of each source vs the pooled corpus. */
  def jsDivergenceQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.jsDivergence(Tables.documents(s, d))

  /** TV / Bhattacharyya / Hellinger of each source vs the pool. */
  def distDistancesQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.distributionDistances(Tables.documents(s, d))

  /** Top-20 burstiest tokens (variance-to-mean of per-doc counts). */
  def tokenBurstinessQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenBurstiness(Tables.documents(s, d))

  /** Per-source language-mix profile. */
  def sourceLangMixQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.sourceLangMix(Tables.documents(s, d))

  /** Per-hour Shannon entropy of the event-type mix. */
  def hourlyEntropyQ(s: SparkSession, d: String): DataFrame =
    Temporal.hourlyTypeEntropy(Tables.events(s, d))

  /** Strict local maxima clearing mean + 2 sigma on the hourly grid. */
  def peaksQ(s: SparkSession, d: String): DataFrame =
    Temporal.hourlyPeaks(Tables.events(s, d))

  /** DAU/WAU/MAU + stickiness per epoch day. */
  def stickinessQ(s: SparkSession, d: String): DataFrame =
    Temporal.stickiness(Tables.events(s, d))

  /** Seasonal-naive (lag-24) vs naive (lag-1) forecast error per type. */
  def seasonalNaiveQ(s: SparkSession, d: String): DataFrame =
    Temporal.seasonalNaiveError(Tables.events(s, d))

  /** Sparse tf-idf more-like-this top-10 for probe doc 0. */
  def sparseCosineQ(s: SparkSession, d: String): DataFrame =
    Retrieval.sparseMoreLikeThis(Tables.documents(s, d))

  /** Degree histogram + Hill alpha over the minhash pair graph. */
  def degreeDistQ(s: SparkSession, d: String): DataFrame =
    Graph.degreeDistribution(candidates(s, d))

  /** Degree assortativity of the minhash pair graph. */
  def assortativityQ(s: SparkSession, d: String): DataFrame =
    Graph.assortativity(candidates(s, d))

  /** Chi-square homogeneity of the event-type mix across variants. */
  def chi2HomogeneityQ(s: SparkSession, d: String): DataFrame =
    Drift.chi2Homogeneity(Tables.events(s, d))

  /** Cross-SOURCE conductance of the near-dup graph: does duplication
    * leak across sources (φ > 0) or stay intra-source? Source labels
    * make the partition non-trivial (true components have cut 0 by
    * construction). */
  def conductanceQ(s: SparkSession, d: String): DataFrame =
    Graph.clusterConductance(candidates(s, d),
      Tables.documents(s, d).select(col("doc_id"), col("source").as("cluster")))

  /** Reliability diagram of the shared linear probe: decile bins via
    * the two-pass [[exactNtile]] (NTILE semantics, no global-order
    * window) over (round(score,4), doc_id), observed rate vs mean
    * confidence per bin, ECE folded in bin order. */
  def probeCalibrationQ(s: SparkSession, d: String): DataFrame = {
    val w = trainedProbe(s, d)
    val sc = probeFeatures(s, d)
      .select(col("doc_id"), col("y"),
        round(LinearModel.score(Seq("x1", "x2", "x3"), w), 4).as("sc"))
    val binned = exactNtile(sc, Seq("sc", "doc_id"), 10, "bin")
      .withColumn("si", round(col("sc") * lit(10000)).cast("long"))
    val k = binned.groupBy("bin")
      .agg(count(lit(1)).as("nb"), sum(col("y").cast("long")).as("n_pos"),
        sum("si").as("ssum"))
      .withColumn("conf",
        col("ssum").cast("double") / (col("nb") * lit(10000)).cast("double"))
      .withColumn("obs", col("n_pos").cast("double") / col("nb").cast("double"))
    val nTot = k.agg(sum("nb").as("nt"))
    val ece = k.crossJoin(broadcast(nTot)).agg(
      aggregate(sort_array(collect_list(struct(col("bin"),
          ((col("nb").cast("double") / col("nt").cast("double"))
            * abs(col("obs") - col("conf"))).as("gap")))),
        lit(0.0), (a, x) => a + x.getField("gap")).as("ece"))
    k.crossJoin(broadcast(ece))
      .select(col("bin"), col("nb").as("n"), col("n_pos"),
        round(col("conf"), 4).as("conf"), round(col("obs"), 4).as("obs"),
        round(col("ece"), 4).as("ece"))
      .orderBy("bin")
  }

  /** Cumulative gains/lift table of the shared linear probe: decile 1 =
    * top scores (asc [[exactNtile]] + the 11−bin remap so BOTH engines
    * bucket identically, remainder and all), capture rate and lift from
    * exact integer cumulative counts over the 10-row rollup. */
  def liftGainsQ(s: SparkSession, d: String): DataFrame = {
    val w = trainedProbe(s, d)
    val sc = probeFeatures(s, d)
      .select(col("doc_id"), col("y"),
        round(LinearModel.score(Seq("x1", "x2", "x3"), w), 4).as("sc"))
    val binned = exactNtile(sc, Seq("sc", "doc_id"), 10, "bin")
      .withColumn("decile", lit(11) - col("bin"))
    val k = binned.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col("y").cast("long")).as("pos"))
    val t = k.agg(sum("n").as("nt"), sum("pos").as("pt"))
    // the cumulative window ranks the 10-row decile rollup, not rows
    val win = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    k.withColumn("cum_n", sum("n").over(win))
      .withColumn("cum_pos", sum("pos").over(win))
      .crossJoin(broadcast(t))
      .select(col("decile"), col("n"), col("pos"), col("cum_pos"),
        round(col("cum_pos").cast("double") / col("pt").cast("double"), 4)
          .as("gain"),
        round((col("cum_pos").cast("double") / col("pt").cast("double"))
          / (col("cum_n").cast("double") / col("nt").cast("double")), 4)
          .as("lift"))
      .orderBy("decile")
  }

  /** Leave-one-out target encoding of event_type against the value>50
    * label. */
  def targetEncodingQ(s: SparkSession, d: String): DataFrame =
    FeaturePrep.targetEncodingLoo(
      Tables.events(s, d).select(col("event_type"),
        when(col("value") > 50.0, 1L).otherwise(0L).as("y")),
      "event_type", "y")
      .withColumnRenamed("cat", "event_type")

  /** WoE / IV of the 10-unit value bucket against the purchase label. */
  def woeIvQ(s: SparkSession, d: String): DataFrame =
    FeaturePrep.woeIv(
      Tables.events(s, d).select(
        expr("CAST(ROUND(value * 100) AS BIGINT) div 1000").as("vb"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y")),
      "vb", "y")

  /** Lorenz curve of per-user total value by user decile (ascending
    * total, exact 2-decimal integer sums, exactNtile buckets). */
  def lorenzQ(s: SparkSession, d: String): DataFrame = {
    val totals = Tables.events(s, d)
      .select(col("user_id").as("key"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("v"))
      .groupBy("key").agg(sum("v").as("t"))
    val binned = exactNtile(totals, Seq("t", "key"), 10, "decile")
    val k = binned.groupBy("decile")
      .agg(count(lit(1)).as("n_keys"), sum("t").as("dv"))
    val tot = k.agg(sum("dv").as("tv"))
    // the cumulative window ranks the 10-row decile rollup, not rows
    val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    k.withColumn("cum", sum("dv").over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_keys"),
        round(col("dv").cast("double") / 100.0, 4).as("decile_value"),
        round(col("cum").cast("double") / col("tv").cast("double"), 4)
          .as("cum_share"))
      .orderBy("decile")
  }

  /** Cramér's V (+ bias-corrected) of event_type × hour-of-day. */
  def cramersVQ(s: SparkSession, d: String): DataFrame =
    Drift.cramersV(
      Tables.events(s, d).select(col("event_type"), hour(col("ts")).as("hr")),
      "event_type", "hr")

  /** Haldane-corrected per-token log odds ratio, English vs rest. */
  def oddsRatioQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenOddsRatio(Tables.documents(s, d), col("lang") === "en")

  /** HHI concentration of the type mix per hour-of-day. */
  def hhiQ(s: SparkSession, d: String): DataFrame =
    Profile.hourlyHhi(Tables.events(s, d))

  /** Holt level+trend smoothing of the hourly count series per type,
    * with a 3-step forecast (α = ½, β = ¼ — exact binary fractions). */
  def holtQ(s: SparkSession, d: String): DataFrame =
    Temporal.holtForecast(Tables.events(s, d))

  /** Wald–Wolfowitz runs test of the daily total value vs its median. */
  def runsTestQ(s: SparkSession, d: String): DataFrame =
    Temporal.runsTest(Tables.events(s, d))

  /** l-diversity census of the k-anonymity quasi-identifiers against
    * the user-cohort sensitive attribute. */
  def lDiversityQ(s: SparkSession, d: String): DataFrame =
    Profile.lDiversity(
      Tables.events(s, d).select(col("event_type"), hour(col("ts")).as("hr"),
        expr("CAST(ROUND(value * 100) AS BIGINT) div 1000").as("vb"),
        (col("user_id") % 10).as("sens")),
      Seq("event_type", "hr", "vb"), "sens")

  /** ε=1 Laplace-noised per-type counts (hash-derived deterministic
    * noise, replayable in SQL). */
  def dpCountsQ(s: SparkSession, d: String): DataFrame =
    Profile.dpCounts(
      Tables.events(s, d).select(col("event_type").as("cat")), "cat")
      .withColumnRenamed("cat", "event_type")

  /** Feature-hashing collision census at 1024 buckets. */
  def hashFeaturesQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.hashFeatureCensus(Tables.documents(s, d))

  /** Kaplan–Meier survival of user lifetime with right-censoring. */
  def kaplanMeierQ(s: SparkSession, d: String): DataFrame =
    Temporal.kaplanMeier(Tables.events(s, d))

  /** Top-20 users by mean path surprisal under the corpus Markov model. */
  def pathSurprisalQ(s: SparkSession, d: String): DataFrame =
    Temporal.pathSurprisal(Tables.events(s, d))

  /** Session-count sensitivity curve over gaps of 5/15/30/60 minutes. */
  def sessionGapCurveQ(s: SparkSession, d: String): DataFrame =
    Temporal.sessionGapCurve(Tables.events(s, d))

  /** t-closeness census of the same quasi-identifiers against the
    * ordinal user-cohort sensitive attribute. */
  def tClosenessQ(s: SparkSession, d: String): DataFrame =
    Profile.tCloseness(
      Tables.events(s, d).select(col("event_type"), hour(col("ts")).as("hr"),
        expr("CAST(ROUND(value * 100) AS BIGINT) div 1000").as("vb"),
        (col("user_id") % 10).as("sens")),
      Seq("event_type", "hr", "vb"), "sens")

  /** Dirichlet-smoothed query-likelihood scores for the probe terms. */
  def queryLikelihoodQ(s: SparkSession, d: String): DataFrame =
    Retrieval.queryLikelihood(Tables.documents(s, d), Bm25Terms)
      .orderBy("doc_id")

  /** k-anonymity census over (event_type, hour-of-day, 10-unit value
    * bucket) quasi-identifiers. */
  def kAnonymityQ(s: SparkSession, d: String): DataFrame =
    Profile.kAnonymity(
      Tables.events(s, d).select(col("event_type"), hour(col("ts")).as("hr"),
        expr("CAST(ROUND(value * 100) AS BIGINT) div 1000").as("vb")),
      Seq("event_type", "hr", "vb"))

  /** One-way ANOVA F of n_chars across languages. */
  def anovaFQ(s: SparkSession, d: String): DataFrame =
    Drift.anovaF(Tables.documents(s, d), "lang", "n_chars")

  /** Mutual information between event type and hour-of-day. */
  def typeHourMiQ(s: SparkSession, d: String): DataFrame =
    Drift.categoricalMi(
      Tables.events(s, d).select(col("event_type"), hour(col("ts")).as("hr")),
      "event_type", "hr")

  /** Embedding isotropy probe over the stride-501 pairing. */
  def isotropyQ(s: SparkSession, d: String): DataFrame =
    Similarity.isotropyProbe(Tables.embeddings(s, d))

  /** W1 distance of each source's length distribution vs the pool. */
  def wassersteinQ(s: SparkSession, d: String): DataFrame =
    Drift.wassersteinVsPool(Tables.documents(s, d), "source", "n_chars")

  /** Hill tail index of the top-100 event values. */
  def tailIndexQ(s: SparkSession, d: String): DataFrame =
    Profile.tailIndex(Tables.events(s, d), "value", "event_id")

  /** Per-type stats of the integer `k` field inside the props JSON. */
  def jsonFieldStatsQ(s: SparkSession, d: String): DataFrame =
    Temporal.jsonFieldStats(Tables.events(s, d))

  /** Character-class census per source. */
  def charCensusQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.charClassCensus(Tables.documents(s, d))

  /** Top-10 doc-initial and doc-final tokens (header/footer census). */
  def boilerplateTokensQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.boilerplateTokens(Tables.documents(s, d))

  /** Per-user behavioral-diversity entropy. */
  def userEntropyQ(s: SparkSession, d: String): DataFrame =
    Temporal.userTypeEntropy(Tables.events(s, d))

  /** Weekly type-share drift with per-type max swing. */
  def weeklyShareDriftQ(s: SparkSession, d: String): DataFrame =
    Temporal.weeklyShareDrift(Tables.events(s, d))

  /** New vs returning users per day. */
  def newVsReturningQ(s: SparkSession, d: String): DataFrame =
    Temporal.newVsReturning(Tables.events(s, d))

  /** Circular mean hour + resultant length per event type. */
  def circularHourQ(s: SparkSession, d: String): DataFrame =
    Temporal.circularHourStats(Tables.events(s, d))

  /** Per-source Spearman rho between doc length and distinct-token
    * count — the heavy-tail-robust "does longer mean richer" check. */
  def spearmanQ(s: SparkSession, d: String): DataFrame =
    RankStats.spearman(Tables.documents(s, d), "source", col("n_chars"),
        expr("size(array_distinct(filter(split(text, ' '), t -> t != '')))"))
      .withColumnRenamed("grp", "source")

  /** Mann–Whitney U of event value, click vs view. */
  def mannWhitneyQ(s: SparkSession, d: String): DataFrame =
    RankStats.mannWhitney(Tables.events(s, d), "event_type", "value",
      "click", "view")

  /** Kruskal–Wallis H of event value across all event types. */
  def kruskalWallisQ(s: SparkSession, d: String): DataFrame =
    RankStats.kruskalWallis(Tables.events(s, d), "event_type", "value")
      .withColumnRenamed("grp", "event_type")

  /** Kendall tau-b between hour-of-day and the 10-unit value bucket
    * (the [[kAnonymityQ]] binning), on the contingency grid. */
  def kendallTauQ(s: SparkSession, d: String): DataFrame =
    RankStats.kendallTauBinned(Tables.events(s, d), hour(col("ts")),
      expr("CAST(ROUND(value * 100) AS BIGINT) div 1000"))

  /** NDCG@10 / MRR / AP of the BM25 probe ranking against graded
    * term-overlap pseudo-relevance (relevant = ≥2 distinct terms). */
  def retrievalEvalQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Retrieval.rankingEval(TextAnalysis.bm25(docs, Bm25Terms), docs, Bm25Terms)
  }

  /** Energy distance between weekday and weekend value distributions. */
  def energyDistanceQ(s: SparkSession, d: String): DataFrame =
    Drift.energyDistance(Tables.events(s, d),
      dayofweek(col("ts")).isin(1, 7))

  /** Cohen's d / Hedges' g effect sizes between event-type pairs. */
  def effectSizesQ(s: SparkSession, d: String): DataFrame =
    Drift.effectSizes(Tables.events(s, d), "event_type", "value")

  /** Markov removal-effect multi-touch attribution toward purchase. */
  def markovAttributionQ(s: SparkSession, d: String): DataFrame =
    Temporal.markovAttribution(Tables.events(s, d))

  /** Poisson-bootstrap percentile CI of the mean event value. */
  def bootstrapCiQ(s: SparkSession, d: String): DataFrame =
    Temporal.bootstrapCi(Tables.events(s, d))

  /** Gries DP dispersion of token mass across sources, top 20. */
  def tokenDispersionQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenDispersion(Tables.documents(s, d))

  /** Dunning G² keyness of the Spanish slice vs the rest, top 20. */
  def keynessQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.keynessG2(Tables.documents(s, d), col("lang") === "es")

  /** Cramér–von Mises statistic between the same two cohorts. */
  def cvmQ(s: SparkSession, d: String): DataFrame =
    Drift.cramerVonMises(Tables.events(s, d),
      dayofweek(col("ts")).isin(1, 7))

  /** Holt–Winters additive seasonal forecast of the hourly series. */
  def holtWintersQ(s: SparkSession, d: String): DataFrame =
    Temporal.holtWintersForecast(Tables.events(s, d))

  /** ROUGE-1/2 overlap grades for the shared minhash candidate pairs. */
  def rougeQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.rougePairEval(Tables.documents(s, d), candidates(s, d))

  /** Hour-of-day profile cosine between event types. */
  def profileCosineQ(s: SparkSession, d: String): DataFrame =
    Temporal.profileCosine(Tables.events(s, d))

  /** Pearson correlation matrix over lineitem's numeric columns. */
  def corrMatrixQ(s: SparkSession, d: String): DataFrame =
    Profile.corrMatrix(Tables.lineitem(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** ERR@10 of the same BM25 ranking under the cascade click model. */
  def errEvalQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Retrieval.errEval(TextAnalysis.bm25(docs, Bm25Terms), docs, Bm25Terms)
  }

  /** Adamic–Adar link prediction over the user CO-ACTIVITY graph
    * (edge = two users sharing ≥4 distinct (epoch-hour, type) activity
    * cells): top-20 non-adjacent pairs by shared-neighbor score — the
    * "who behaves alike but hasn't been linked yet" ranking. The
    * minhash near-dup graph is pure cliques at fixture scale (every
    * wedge closed), so the co-activity graph is the one with open
    * structure for link prediction to rank. */
  def adamicAdarQ(s: SparkSession, d: String): DataFrame =
    Graph.adamicAdar(coActivityEdges(s, d))

  private val coActCache = scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** The user co-activity pair graph both graph entries consume (edge =
    * two users sharing ≥4 distinct (epoch-hour, type) cells), built
    * once per (session, fixture) and persisted — the [[candidates]]
    * memoization pattern: Adamic–Adar and k-core pay the self-join
    * once between them. */
  private def coActivityEdges(s: SparkSession, d: String): DataFrame =
    coActCache.getOrElseUpdate(sessionKey(s, d), {
      graft.CacheLog.built("coActCache")
      buildCoActivityEdges(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  private def buildCoActivityEdges(s: SparkSession, d: String): DataFrame = {
    // pinnedByKey on the cell key: the self-join's per-cell pair fan-out
    // is the CPU-dense part and its input rows are three longs — AQE's
    // byte-based coalescing ran the whole expansion as one task at
    // fixture scale. The pin goes UNDER the distinct: hash(h, t)
    // clusters every (user, h, t) triple, so the distinct aggregates in
    // place on the pinned exchange (one shuffle, not distinct's own
    // hash(user, h, t) exchange followed by the pin — r16 evlog showed
    // both), and both self-join sides still share that one exchange.
    val ua = graft.ext.Dedup.pinnedByKey(
        Tables.events(s, d)
          .select(col("user_id"),
            expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"),
            col("event_type")),
        col("h"), col("event_type"))
      .distinct()
    val l = ua.toDF("ua", "h", "t")
    val r = ua.toDF("ub", "h", "t")
    l.join(r, Seq("h", "t"))
      .where(col("ua") < col("ub"))
      .groupBy(col("ua").as("doc_a"), col("ub").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= 4)
      .select("doc_a", "doc_b")
  }

  /** k-core peeling summary of the co-activity graph, k ∈ {2,3,4}. */
  def kCoreQ(s: SparkSession, d: String): DataFrame =
    Graph.kCoreSummary(coActivityEdges(s, d))

  /** Closeness/harmonic centrality per user on the same shared graph,
    * over the deterministic md5-sampled ≤[[Graph.ClosenessSliceNodes]]
    * induced subgraph — a no-op at fixture scales (V = 145 / ~1.4k) and
    * a hard bound above it, so the exact all-pairs computation AND its
    * V²-per-round SQL twin stay feasible at any sweep scale (the r12
    * sf1 V = 14.5k run completed in the engine but overflowed DuckDB's
    * disk — the one declared oracle-skip this slice removes). The
    * unbounded-V path is [[approxClosenessQ]]. */
  def closenessQ(s: SparkSession, d: String): DataFrame =
    // maxDepth 16: the sampled slice is SPARSER than the full graph
    // (longer shortest paths — the sf1 slice outlives depth 8), and the
    // converged extra rounds are no-ops at fixture scale
    Graph.closenessCentrality(Graph.inducedSlice(coActivityEdges(s, d)),
      maxDepth = 16)

  /** Sampled-pivot Eppstein–Wang closeness on the same shared graph —
    * the unbounded-V scale variant of [[closenessQ]] (64 pivots). */
  def approxClosenessQ(s: SparkSession, d: String): DataFrame =
    Graph.approxCloseness(coActivityEdges(s, d))

  /** TextRank keyword scores: PageRank over the adjacent-token
    * co-occurrence graph (Mihalcea & Tarau 2004 with window 2). Token
    * node ids come from a row_number over the DISTINCT token table —
    * V-bounded, the accepted vocab-window pattern; the oracle runs the
    * same chain on the token strings directly (labels don't change the
    * rank values). */
  def textrankQ(s: SparkSession, d: String): DataFrame = {
    val bi = Dedup.explodedShingles(Tables.documents(s, d), 2)
      .select(split(col("sh"), " ").as("w"))
      .select(element_at(col("w"), 1).as("t1"), element_at(col("w"), 2).as("t2"))
      .where(col("t1") =!= col("t2"))
      .select(least(col("t1"), col("t2")).as("ta"),
        greatest(col("t1"), col("t2")).as("tb"))
      .distinct()
    val vocab = bi.select(col("ta").as("tok"))
      .union(bi.select(col("tb").as("tok"))).distinct()
      .withColumn("id", org.apache.spark.sql.functions.row_number()
        .over(org.apache.spark.sql.expressions.Window.orderBy("tok"))
        .cast("long"))
    val e = bi.join(vocab.toDF("ta", "ida"), "ta")
      .join(vocab.toDF("tb", "idb"), "tb")
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"))
    Graph.pageRank(e)
      .join(vocab.withColumnRenamed("id", "doc_id"), "doc_id")
      .select(col("tok"), col("pr")).orderBy("tok")
  }

  /** Last-touch purchase attribution over a 24h lookback. */
  def attributionQ(s: SparkSession, d: String): DataFrame =
    Temporal.lastTouchAttribution(Tables.events(s, d))

  /** Events tagged with variant (user parity), relative day, and the
    * exact 2-decimal value — the shared base of the experiment trio. */
  private def taggedEvents(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id").as("u"), (col("user_id") % 2).cast("int").as("v"),
        expr("unix_micros(ts) div 86400000000").as("dd"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("vc"))
    val d0 = ev.agg(min("dd").as("d0"))
    ev.crossJoin(broadcast(d0))
      .withColumn("p", (col("dd") - col("d0") >= 15).cast("int"))
  }

  /** Sample-ratio-mismatch guardrail on the user-parity split. */
  def abSrmQ(s: SparkSession, d: String): DataFrame =
    Experiment.sampleRatioCheck(Tables.events(s, d))

  /** MMR diverse top-5 from the cosine top-20 (λ = ½, query vec 0). */
  def mmrQ(s: SparkSession, d: String): DataFrame =
    Similarity.mmrSelect(Tables.embeddings(s, d))

  /** Weighted p50/p90 of event value, weighted by the props-k mass. */
  def weightedQuantileQ(s: SparkSession, d: String): DataFrame =
    // NOT spread (r15): a spreadForCompute before the JSON parse was
    // tried and measured WORSE — the w>0 filter references the parsed
    // column, so predicate pushdown re-materializes get_json_object
    // below the exchange in the single-task scan stage anyway, and the
    // operator's two consumers (cumulative + totals) then duplicate the
    // whole pre-exchange subtree. The parse stays fused in the scan.
    Temporal.weightedQuantiles(
      Tables.events(s, d).select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("w")),
      "event_type", "value", "w")
      .withColumnRenamed("grp", "event_type")

  /** Additive hourly seasonal decomposition per event type. */
  def seasonalDecomposeQ(s: SparkSession, d: String): DataFrame =
    Temporal.seasonalDecompose(Tables.events(s, d))

  /** Directed association rules over per-user event-type baskets. */
  def assocRulesQ(s: SparkSession, d: String): DataFrame =
    Temporal.associationRules(Tables.events(s, d))

  /** Brier score + Murphy decomposition of the shared probe: overall
    * mean squared error in EXACT 1e-8 integer units
    * (Σ(si − 10000·y)², si the 1e-4-scaled score), with
    * reliability / resolution over the same exactNtile decile bins the
    * calibration entry uses and uncertainty = ȳ(1−ȳ). The bin folds
    * run in bin order; every engine-visible ratio divides exact
    * integers. Output (one row): n, brier, reliability, resolution,
    * uncertainty. */
  def brierQ(s: SparkSession, d: String): DataFrame = {
    val w = trainedProbe(s, d)
    val sc = probeFeatures(s, d)
      .select(col("doc_id"), col("y").cast("long").as("y"),
        round(LinearModel.score(Seq("x1", "x2", "x3"), w), 4).as("sc"))
      .withColumn("si", round(col("sc") * 10000).cast("long"))
    val binned = exactNtile(sc, Seq("sc", "doc_id"), 10, "bin")
    val k = binned.groupBy("bin").agg(count(lit(1)).as("nb"),
      sum("y").as("pb"), sum("si").as("sb"),
      sum(((col("si") - lit(10000L) * col("y"))
        * (col("si") - lit(10000L) * col("y"))).cast("decimal(38,0)")).as("se2"))
    val tot = k.agg(sum("nb").as("n"), sum("pb").as("p"),
      sum("se2").as("se2t"))
    val terms = k.crossJoin(broadcast(tot))
      .withColumn("conf", col("sb").cast("double")
        / (col("nb") * lit(10000L)).cast("double"))
      .withColumn("obs", col("pb").cast("double") / col("nb").cast("double"))
      .withColumn("ybar", col("p").cast("double") / col("n").cast("double"))
      .withColumn("rel_t", col("nb").cast("double") / col("n").cast("double")
        * (col("conf") - col("obs")) * (col("conf") - col("obs")))
      .withColumn("res_t", col("nb").cast("double") / col("n").cast("double")
        * (col("obs") - col("ybar")) * (col("obs") - col("ybar")))
    terms.agg(
        first(col("n")).as("n"),
        first(col("se2t").cast("double") /
          (col("n").cast("double") * lit(1.0e8))).as("brier"),
        aggregate(sort_array(collect_list(struct(col("bin"), col("rel_t")))),
          lit(0.0), (a, x) => a + x.getField("rel_t")).as("rel"),
        aggregate(sort_array(collect_list(struct(col("bin"), col("res_t")))),
          lit(0.0), (a, x) => a + x.getField("res_t")).as("res"),
        first(col("ybar") * (lit(1.0) - col("ybar"))).as("unc"))
      .select(col("n"), round(col("brier"), 4).as("brier"),
        round(col("rel"), 4).as("reliability"),
        round(col("res"), 4).as("resolution"),
        round(col("unc"), 4).as("uncertainty"))
  }

  /** B-cubed precision/recall/F1 of the kmeans clustering against the
    * ground-truth labels — THE cluster-eval for dedup/entity-resolution
    * output (per-item credit, robust to cluster-count mismatch). With
    * cells c = |cluster ∩ label|: P = Σc²/n_cluster / N,
    * R = Σc²/n_label / N — all ratios of exact integers, folded in
    * (cluster, label) cell order. */
  def bcubedQ(s: SparkSession, d: String): DataFrame =
    Similarity.bcubed(clusterAssign(s, d),
      Tables.embeddings(s, d).select(col("vec_id"), col("label")))

  /** Dunn index over the ground-truth labels. */
  def dunnQ(s: SparkSession, d: String): DataFrame =
    Similarity.dunnIndex(Similarity.evalSlice(Tables.embeddings(s, d)))

  /** Durbin–Watson of the hourly count series per event type. */
  def durbinWatsonQ(s: SparkSession, d: String): DataFrame =
    Temporal.durbinWatson(Tables.events(s, d))

  /** Mann–Kendall trend test + Theil–Sen slope of the hourly series. */
  def mannKendallQ(s: SparkSession, d: String): DataFrame =
    Temporal.mannKendall(Tables.events(s, d))

  /** Jarque–Bera normality of the per-type value distribution. */
  def jarqueBeraQ(s: SparkSession, d: String): DataFrame =
    Drift.jarqueBera(Tables.events(s, d), "event_type", "value")

  /** Brown–Forsythe variance-homogeneity across event types. */
  def brownForsytheQ(s: SparkSession, d: String): DataFrame =
    Drift.brownForsythe(Tables.events(s, d), "event_type", "value")

  /** Log-rank survival comparison between user-parity cohorts. */
  def logRankQ(s: SparkSession, d: String): DataFrame =
    Temporal.logRank(Tables.events(s, d))

  /** Nelson–Aalen cumulative hazard of user lifetime. */
  def nelsonAalenQ(s: SparkSession, d: String): DataFrame =
    Temporal.nelsonAalen(Tables.events(s, d))

  /** k-NN label agreement per label over the embedding table. */
  def knnEvalQ(s: SparkSession, d: String): DataFrame =
    Similarity.knnLabelEval(Similarity.evalSlice(Tables.embeddings(s, d)))

  /** IVF-routed (ANN-candidate) k-NN label agreement with the exact
    * top-k recall guard — the scale path of [[knnEvalQ]]: only the
    * IVF join runs per-corpus at 100 TB; the exact comparison here is
    * the fixture-scale regression that keeps its recall a hash-checked
    * number (the ext_dedup_eval TP/FN pattern). */
  def knnEvalIvfQ(s: SparkSession, d: String): DataFrame =
    Similarity.knnLabelEvalIvf(Similarity.evalSlice(Tables.embeddings(s, d)))

  /** Mean silhouette per ground-truth label over cosine distance. */
  def silhouetteQ(s: SparkSession, d: String): DataFrame =
    Similarity.silhouette(Similarity.evalSlice(Tables.embeddings(s, d)))

  /** Best Gini decision-stump split of the value bucket vs purchase. */
  def giniStumpQ(s: SparkSession, d: String): DataFrame =
    FeaturePrep.giniStump(
      Tables.events(s, d).select(
        expr("CAST(ROUND(value * 100) AS BIGINT) div 1000").as("vb"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y")),
      "vb", "y")

  /** Chao1 unseen-vocabulary estimate per source. */
  def chao1Q(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chao1(Tables.documents(s, d))
      .withColumnRenamed("grp", "source")

  /** Cohort LTV curve: cumulative value per cohort user by week age. */
  def cohortLtvQ(s: SparkSession, d: String): DataFrame =
    Temporal.cohortLtv(Tables.events(s, d))

  /** BFS hop-distance layers over the co-activity graph (source = min
    * node id; unreached nodes report as dist −1). */
  def bfsQ(s: SparkSession, d: String): DataFrame =
    Graph.bfsLayers(coActivityEdges(s, d))

  /** Precision/recall/F1/MCC of the shared probe at thresholds
    * 0.3/0.5/0.7 — every decision an integer comparison on the
    * 1e-4-scaled score; MCC's four marginals multiply in DECIMAL. */
  def probePrQ(s: SparkSession, d: String): DataFrame = {
    val w = trainedProbe(s, d)
    val sc = probeFeatures(s, d)
      .select(col("y").cast("int").as("y"),
        round(round(LinearModel.score(Seq("x1", "x2", "x3"), w), 4) * 10000)
          .cast("long").as("si"))
    val dec = "decimal(38,0)"
    Seq(3000L, 5000L, 7000L).map { th =>
      sc.agg(
        sum(when(col("y") === 1 && col("si") >= th, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0 && col("si") >= th, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1 && col("si") < th, 1L).otherwise(0L)).as("fn"),
        sum(when(col("y") === 0 && col("si") < th, 1L).otherwise(0L)).as("tn"))
        .select(lit((th / 100).toInt).as("th100"), col("tp"), col("fp"),
          col("fn"), col("tn"),
          round(when(col("tp") + col("fp") > 0,
            col("tp").cast("double") / (col("tp") + col("fp")).cast("double")), 4)
            .as("prec"),
          round(when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn")).cast("double")), 4)
            .as("recall"),
          round(when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
            (lit(2L) * col("tp")).cast("double")
              / (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")), 4)
            .as("f1"),
          (round(when(
            (col("tp") + col("fp")) * (col("tp") + col("fn")) > 0 &&
              (col("tn") + col("fp")) * (col("tn") + col("fn")) > 0,
            (col("tp").cast(dec) * col("tn").cast(dec)
              - col("fp").cast(dec) * col("fn").cast(dec)).cast("double")
              / sqrt(((col("tp") + col("fp")).cast(dec)
                * (col("tp") + col("fn")).cast(dec)
                * (col("tn") + col("fp")).cast(dec)
                * (col("tn") + col("fn")).cast(dec)).cast("double"))), 4)
            + lit(0.0)).as("mcc"),
          (round({
            val n = (col("tp") + col("fp") + col("fn") + col("tn")).cast("double")
            val po = (col("tp") + col("tn")).cast("double") / n
            val pe = ((col("tp") + col("fp")).cast("double")
              * (col("tp") + col("fn")).cast("double")
              + (col("fn") + col("tn")).cast("double")
                * (col("fp") + col("tn")).cast("double")) / (n * n)
            when(pe < 1.0, (po - pe) / (lit(1.0) - pe))
          }, 4) + lit(0.0)).as("kappa"))
    }.reduce(_.unionAll(_)).orderBy("th100")
  }

  /** CUPED variance reduction: pre-period (days 0–14) value as the
    * covariate for the experiment-period (days 15+) value. */
  def cupedQ(s: SparkSession, d: String): DataFrame =
    Experiment.cuped(taggedEvents(s, d).groupBy("u", "v")
      .agg(sum(when(col("p") === 0, col("vc")).otherwise(0L)).as("x"),
        sum(when(col("p") === 1, col("vc")).otherwise(0L)).as("y")))

  /** Difference-in-differences of event value across variant × period. */
  def didQ(s: SparkSession, d: String): DataFrame =
    Experiment.diffInDiff(
      taggedEvents(s, d).select(col("v"), col("p"), col("vc").as("val")))

  /** BM25 top-10 under k1 in {0.9, 1.2, 1.5} — the ranking-robustness
    * sweep (the banding-eval pattern applied to retrieval scoring).
    * Ranks on the ROUNDED score with doc-id tie-breaks. */
  def bm25SweepQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Seq(9, 12, 15).map { k1x10 =>
      val scored = TextAnalysis.bm25(docs, Bm25Terms, k1 = k1x10 / 10.0)
      val top = scored.orderBy(col("bm25").desc, col("doc_id")).limit(10)
      // window over <= 10 rows by construction
      top.select(lit(k1x10).as("k1x10"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25").desc, col("doc_id"))).as("rank"),
        col("doc_id"), col("bm25"))
    }.reduce(_.unionAll(_)).orderBy("k1x10", "rank")
  }

  /** Perceptual-hash media dedup over the synthetic media table plus
    * planted re-encodes (doc_id % 7 stored twice — the same bytes under
    * two media ids, the multi-URL duplicate case). */
  def mediaDedupQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val base = Multimodal.syntheticMedia(s, docs)
    val re = Multimodal.syntheticMedia(s, docs.where(col("doc_id") % 7 === 0))
      .map(m => m.copy(media_id = m.media_id + 10000000L))
    Multimodal.phashBandedPairs(Multimodal.mediaPhashes(base.union(re)))
  }

  /** REAL-decoder perceptual dedup: [[PlantedPngCount]] planted
    * base/noisy-re-encode PNG pairs generated from the documents fixture
    * flow through `ImageIoCodec` (genuine javax.imageio pixel decode →
    * 60-bit aHash) and the same Hamming banding the stub entries use.
    * The planted contract — exactly one pair per doc, each
    * (id, id + offset), zero cross-pairs — is pinned by
    * RealPhashDedupSpec; this entry keeps the real decode path TIMED and
    * swept in every battery run, not only unit-tested.
    *
    * HASH-ORACLE-CHECKED despite DuckDB not decoding PNG: every planted
    * payload byte is a pure function of doc_id alone (java.util.Random
    * seeded by id; PNG decode of our own encode is pixel-lossless), and
    * the n smallest doc_ids are 0..n−1 at every fixture scale — so the
    * expected pair table is SCALE-INVARIANT and the oracle inlines it as
    * a decoder-measured golden (one pair per id at its measured Hamming
    * distance; see the `ext_real_phash_dedup` oracle entry). */
  private val PlantedPngCount = 200

  def realPhashDedupQ(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.plantedPngMedia(Tables.documents(s, d), PlantedPngCount)
    val hashes = Multimodal.mediaPhashes(media,
      p => Multimodal.ImageIoCodec.phash(p).getOrElse(
        sys.error("planted PNG failed to decode")))
    Multimodal.phashBandedPairs(hashes)
  }

  /** Delete-one-bucket jackknife SE of the mean event value. */
  def jackknifeQ(s: SparkSession, d: String): DataFrame =
    Temporal.jackknifeSe(Tables.events(s, d))

  /** RBO@10 between the BM25 probe ranking and the cosine ranking —
    * the same two scored frames [[rrfFusionQ]] fuses. */
  def rboQ(s: SparkSession, d: String): DataFrame = {
    val lex = TextAnalysis.bm25(Tables.documents(s, d), Bm25Terms)
    val e = Dedup.spreadForCompute(
        Tables.embeddings(s, d)
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("e")))
      .withColumn("n", Similarity.norm(col("e")))
    val q = e.where(col("vec_id") === 0L)
      .select(col("e").as("qe"), col("n").as("qn"))
    val vec = e.where(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(Similarity.dot(col("e"), col("qe")) / (col("n") * col("qn")), 4)
          .as("cos"))
    Retrieval.rboEval(lex, vec)
  }

  /** Streaming per-(user, hour) quota gate, run to completion; admission
    * order within the single in-order batch is (ts, event_id), so the
    * admitted set matches the batch row_number() twin exactly. */
  def streamQuotaQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val in = graft.streaming.Streams.eventStream(s, d + "/events.parquet")
      .select(col("user_id"),
        expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000").as("eh"),
        col("event_id"), expr("unix_micros(ts)").as("tsu"))
      .as[(Long, Long, Long, Long)]
    runStream(graft.streaming.Streams.quotaGate(in, maxPerKey = 1L)
        .toDF("event_id", "user_id", "epoch_hour"),
      "graft_stream_quota", "append")
      .orderBy("event_id")
  }

  /** Batch interval join: (view, purchase) pairs of the same user within
    * one hour — the batch twin of the streaming interval join. */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val v = e.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
    Temporal.intervalJoin(v, p, "user_id", "vts", "pts", 3600L)
      .select("view_id", "purchase_id")
      .orderBy("view_id", "purchase_id")
  }

  /** Near-dup clusters: connected components over the MinHash candidate
    * pairs; cluster label = smallest reachable doc_id. */
  def dupClusters(s: SparkSession, d: String): DataFrame =
    Dedup.dupClusters(candidates(s, d))
      .orderBy("doc_id")

  /** Trigram stupid-backoff NLL of zh docs against the en-trained LM. */
  def trigramBackoffQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).where(col("lang").isin("en", "zh"))
    TextAnalysis.stupidBackoff(docs, col("lang") === "en").orderBy("doc_id")
  }

  /** Per-lang winsorization of n_chars at the 5th/95th percentiles. */
  def winsorizeQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.winsorize(Tables.documents(s, d))
      .select("doc_id", "lang", "n_chars", "clipped").orderBy("doc_id")

  /** Domain rebalancing: every lang downsampled to the smallest lang. */
  def rebalanceQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.rebalanceStrata(Tables.documents(s, d))
      .select("doc_id", "lang").orderBy("doc_id")

  /** Hourly resample + forward fill of each user's value series. */
  def resampleQ(s: SparkSession, d: String): DataFrame =
    Temporal.resampleHourlyFfill(Tables.events(s, d)).orderBy("user_id", "h")

  /** Per-language n_chars quartiles through the quantile SQL UDAF in
    * EXACT mode, exploded to scalar rows. The exact-mode capacity
    * self-sizes to the LARGEST group (one tiny per-lang count first —
    * L rows), registered under a query-local UDAF name, so the DuckDB
    * exact-rank oracle holds at any sweep scale; the r12 sf1 twin broke
    * the former fixed-8192 registration one decade up. The fixed-
    * capacity `graft_quantiles` registration stays the approximate
    * scale path (per-group state bounded regardless of group size), and
    * `requireExact` still throws if the sizing is bypassed. */
  def groupQuantilesQ(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExtensions.register(s)
    val docs = Tables.documents(s, d)
    // max() over zero groups is NULL — read nullably and fall back to the
    // 8192 floor so an empty documents table sizes instead of NPE-ing
    val maxGrp = Option(docs.groupBy("lang").count()
      .agg(max("count")).head().getAs[java.lang.Long](0))
      .map(_.longValue).getOrElse(0L)
    val cap = ceilPow2(math.max(8192L, maxGrp))
    s.udf.register("graft_quantiles_exact_gq",
      org.apache.spark.sql.functions.udaf(
        new graft.functions.QsAggregator(cap,
          Seq(0.25, 0.5, 0.75, 0.9, 0.99), requireExact = true)))
    docs.createOrReplaceTempView("graft_docs_gq")
    s.sql("""SELECT lang, p.q AS q, qs[p.pos] AS value
             FROM (SELECT lang, graft_quantiles_exact_gq(CAST(n_chars AS DOUBLE)) AS qs
                   FROM graft_docs_gq GROUP BY lang)
             LATERAL VIEW posexplode(array(0.25D, 0.5D, 0.75D, 0.9D, 0.99D)) p AS pos, q
             ORDER BY lang, q""")
  }

  /** Run a finite stream to completion and hand back its result as a
    * DataFrame — the bridge that lets streaming operators join the
    * DuckDB-oracle battery: the stream's final output over the fixture
    * IS a deterministic batch result.
    * Sink = foreachBatch → parquet, NOT format("memory"): the
    * memory sink serializes every result row to the DRIVER (the r14 sf10
    * sweep killed ext_stream_sliding on spark.driver.maxResultSize at
    * ~10M output rows), while the foreachBatch write stays on the
    * executors at any scale. Batch semantics per output mode: COMPLETE
    * rewrites the full result every batch → overwrite (last batch wins);
    * APPEND emits each finalized row exactly once across batches →
    * parquet append (watermarked append queries deliver a SECOND
    * finalization batch under AvailableNow, so single-batch overwrite
    * would drop rows — dedup/quota/interval_join do exactly that).
    * No battery stream uses update mode (no upsert story for a file
    * sink); the require below keeps that explicit. */
  /** One sink dir per (entry, invocation), tracked so it can be cleaned:
    * a fresh dir per run keeps append-mode reps independent (a reused dir
    * would accumulate appended batches across Bench reps), while the
    * replace-on-next-run delete plus the JVM shutdown hook keep repeated
    * battery sweeps from filling /tmp with multi-GB stream results (the
    * r14 sf10 sweep left ~10M-row parquet dirs behind per rep). */
  private val streamDirs =
    scala.collection.concurrent.TrieMap[String, java.nio.file.Path]()
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      streamDirs.values.foreach { p =>
        try deleteRecursively(p) catch { case _: Throwable => () }
      }))
  }

  /** State/shuffle partition count for a streaming query, derived from
    * its file sources' total byte size — one partition per 16 MB of
    * source input, floor 8, cap 8× the cluster's parallelism. Every
    * stateful-stream task pays a FIXED deserialization toll: the task
    * binary carries a `SerializableConfiguration` (a gzip'd full Hadoop
    * conf) and concurrent tasks convoy on the JDK-global Inflater
    * cleaner lock (measured: 32 tasks × ~3 s wall at 0.09 s CPU each —
    * 98 task-seconds for a 2.8-CPU-second microbatch; thread dump shows
    * 30/32 tasks blocked in PhantomCleanable under
    * WritableUtils.readCompressedStringArray). So partition count is a
    * direct per-batch cost and must track the data, not a global
    * constant: 16 MB/partition keeps state per task bounded at scale
    * (same volume-derived-knob genus as kmeansKFor/lshBitsFor), and the
    * cap only binds at bench scale where one executor hosts every state
    * store. Results are partition-count-invariant (the same queries
    * hash-match the DuckDB oracle from Verify's 8-partition and Bench's
    * 32-partition sessions). */
  private def streamStateParts(s: SparkSession, df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    import org.apache.spark.sql.catalyst.plans.logical._
    // stateless streams (pure per-row maps, static-broadcast enrichment)
    // have no state stores: shrinking their partitions only costs
    // parallelism on the static side — leave them at the session default
    val stateful = df.queryExecution.analyzed.collectFirst {
      case a: Aggregate if a.isStreaming => ()
      case d: Deduplicate if d.isStreaming => ()
      case d: DeduplicateWithinWatermark if d.isStreaming => ()
      case f: FlatMapGroupsWithState if f.isStreaming => ()
      case j: Join if j.left.isStreaming && j.right.isStreaming => ()
    }.isDefined
    if (!stateful) return None
    val bytes = df.queryExecution.logical.collect {
      case StreamingRelation(ds, _, _) =>
        ds.options.get("path").map(sourceBytes(s, _)).getOrElse(0L)
    }.sum
    if (bytes == 0L) return None // unsized source: keep the session default
    val byVolume = math.max(8L, bytes / (16L << 20) + 1)
    Some(math.min(8L * s.sparkContext.defaultParallelism, byVolume).toInt)
  }

  /** Recursive byte size of a stream source path via the Hadoop
    * FileSystem API — NOT java.io.File, which returns 0 on HDFS/S3 (the
    * 100 TB deployment) and misses nested partition directories, both
    * of which would silently floor every stateful stream at 8 state
    * partitions. globStatus expands glob metacharacters and
    * getContentSummary recurses; any non-fatal failure is logged and
    * sizes as 0 (= caller keeps the session default, never a wrong
    * positive). */
  private[graft] def sourceBytes(s: SparkSession, p: String): Long =
    try {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      Option(fs.globStatus(hp)).getOrElse(Array.empty)
        .map(st => fs.getContentSummary(st.getPath).getLength).sum
    } catch {
      case NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"sourceBytes($p) failed; sizing it as 0 bytes", e)
        0L
    }

  private def runStream(df: DataFrame, name: String, mode: String): DataFrame = {
    val s = df.sparkSession
    require(mode == "complete" || mode == "append",
      s"runStream supports complete/append output modes, got $mode")
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-stream-$name-")
    streamDirs.put(name, tmp)
      .foreach(old => try deleteRecursively(old) catch { case _: Throwable => () })
    val dir = tmp.toString + "/out"
    @volatile var schema: org.apache.spark.sql.types.StructType = df.schema
    val writeMode = if (mode == "complete") "overwrite" else "append"
    // volume-derived state partitioning: set for the lifetime of THIS
    // query (the conf is read at microbatch planning on the stream
    // thread; runStream is synchronous so no other query races it) and
    // restored after termination
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    streamStateParts(s, df).foreach(n =>
      s.conf.set("spark.sql.shuffle.partitions", n))
    val q = df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        schema = batch.schema
        batch.write.mode(writeMode).parquet(dir)
      }
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    // The bound exists to fail LOUDLY on a wedged stream instead of
    // hanging the battery forever — it is a hang detector, not a perf
    // budget. 180 s was outgrown by linear data growth at the ×100 sweep
    // scale (ext_stream_neardup: 157 s contended at r14, >180 s quiet at
    // r15 — the fixed-constant genus, in the harness this time), so the
    // bound sits one decade above the slowest measured entry.
    try require(q.awaitTermination(1800000), s"stream $name did not terminate")
    finally {
      q.stop()
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    val out = new java.io.File(dir)
    if (out.exists && out.listFiles != null &&
        out.listFiles.exists(_.getName.endsWith(".parquet")))
      s.read.parquet(dir)
    else // zero-row stream: parquet may leave no readable part files
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
  }

  /** Streaming form of Q17 (tumbling hourly counts with watermark), run to
    * completion over the events fixture. Complete mode: append would hold
    * back the windows newer than the final watermark, which never finalize
    * on a finite stream. Oracle = the same hourly DuckDB aggregation as
    * q17 — the batch-parity claim as a hash-checked entry. */
  def streamTumblingQ(s: SparkSession, d: String): DataFrame =
    runStream(graft.streaming.Streams.tumblingCounts(
        graft.streaming.Streams.eventStream(s, d + "/events.parquet")),
      "graft_stream_tumbling", "complete")
      .select(col("h"), col("event_type"), col("c"), round(col("s"), 4).as("s"))
      .orderBy("h", "event_type")

  /** Streaming per-user EWMA (flatMapGroupsWithState, O(1) keyed state),
    * run to completion over the events fixture; the single-file source
    * arrives as one in-order batch, so the left fold matches the batch
    * operator and the recursive DuckDB oracle exactly. */
  def streamEwmaQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val in = graft.streaming.Streams.eventStream(s, d + "/events.parquet")
      .select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
    runStream(graft.streaming.Streams.streamingEwma(in).toDF("user_id", "event_id", "ewma"),
      "graft_stream_ewma", "append")
      .orderBy("event_id")
  }

  /** Event-time streaming sessionization (session_window), run to
    * completion: the streaming twin of ext_sessionize, minus the index
    * column (a session's identity in the stream is its start time).
    * Complete mode for the same reason as the tumbling entry. Oracle =
    * the batch gap-split rollup — the batch-parity claim hash-checked. */
  def streamSessionsQ(s: SparkSession, d: String): DataFrame =
    runStream(graft.streaming.Streams.sessionWindows(
        graft.streaming.Streams.eventStream(s, d + "/events.parquet")),
      "graft_stream_sessions", "complete")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("total_value"), 4).as("total_value"))
      .orderBy("user_id", "session_start")

  /** Stream-stream interval join run to completion — same oracle as the
    * batch ext_interval_join: inner-join rows emit as matches arrive
    * (the watermark only bounds state), so the finite run's output IS
    * the batch join. */
  def streamIntervalJoinQ(s: SparkSession, d: String): DataFrame =
    runStream(graft.streaming.Streams.viewPurchaseIntervalJoin(
        graft.streaming.Streams.eventStream(s, d + "/events.parquet"))
        .select(col("view_id"), col("purchase_id")),
      "graft_stream_interval_join", "append")
      .orderBy("view_id", "purchase_id")

  /** Streaming exact dedup run to completion over a DOUBLED feed — the
    * events file unioned with itself, the at-least-once-delivery regime
    * dedup exists for. `dropDuplicatesWithinWatermark("event_id")` keeps
    * one arrival per id (the duplicates are byte-identical rows, so
    * "which arrival won" cannot leak into the output and the result is
    * arrival-order-independent); state per id is evicted once the
    * watermark passes. Oracle = the events table itself: dedup of a
    * duplicated stream must reproduce the original, hash-exactly. */
  def streamDedupQ(s: SparkSession, d: String): DataFrame = {
    val feed = graft.streaming.Streams.eventStream(s, d + "/events.parquet")
      .unionAll(graft.streaming.Streams.eventStream(s, d + "/events.parquet"))
    runStream(graft.streaming.Streams.dedupEvents(feed)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 4).as("value")),
      "graft_stream_dedup", "append")
      .orderBy("event_id")
  }

  /** Top-3 tf-idf keywords per document (rank on ROUND(tfidf,4), token
    * tie-break — see [[TextAnalysis.keywords]] for why the raw double
    * must not order the ranks). */
  def keywordsQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.keywords(Tables.documents(s, d), 3).orderBy("doc_id", "rk")

  /** Per-doc syllable-run complexity profile (the word-level half of
    * Flesch/Fog readability). */
  def syllablesQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.syllableStats(Tables.documents(s, d)).orderBy("doc_id")

  /** Step-function time-weighted average event value per user. */
  def twaQ(s: SparkSession, d: String): DataFrame =
    Temporal.timeWeightedAvg(Tables.events(s, d))

  /** 5-minute per-user interval coalescing (gaps-and-islands coverage). */
  def intervalMergeQ(s: SparkSession, d: String): DataFrame =
    Temporal.mergeIntervals(Tables.events(s, d))

  /** Per-dimension z-scored embedding matrix. */
  def standardizeQ(s: SparkSession, d: String): DataFrame =
    Similarity.standardize(Tables.embeddings(s, d)).orderBy("vec_id", "pos")

  /** Frequency-based curriculum ordering: difficulty = mean corpus
    * frequency of the doc's tokens (common words → easy), docs ranked
    * easy→hard with NTILE deciles for pacing-schedule cutoffs. The
    * difficulty is an EXACT long/long division (no libm anywhere), so
    * the global order is bit-identical across engines; the rank+decile
    * come from the same two-pass range-partition scheme as
    * ext_length_deciles — never a global window. */
  def curriculumQ(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.docsTokenized(s, d)
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val diff = toks.join(broadcast(freq), "tok")
      .groupBy("doc_id")
      .agg((sum("c").cast("double") / count(lit(1))).as("mf"))
      .withColumn("neg_mf", -col("mf"))
    exactNtile(diff, Seq("neg_mf", "doc_id"), 10, "decile", "crank")
      .select(col("doc_id"), round(col("mf"), 4).as("mean_tok_freq"),
        col("decile"), col("crank"))
      .orderBy("doc_id")
  }

  /** Naive Bayes source classifier, trained and scored on the corpus. */
  def nbClassifyQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.nbClassify(Tables.documents(s, d)).orderBy("doc_id")

  /** Per-column profile of the documents table (exact distincts). */
  def profileQ(s: SparkSession, d: String): DataFrame =
    Profile.profile(Tables.documents(s, d),
      Seq("doc_id", "text", "lang", "source", "n_chars")).orderBy("col_name")

  /** Vocabulary coverage curve at 50/90/95/99% of token mass. */
  def vocabCoverageQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabCoverage(Tables.documents(s, d)).orderBy("pct")

  /** First-wins (arrival-order) near-dup marking over the corpus. */
  def firstWinsQ(s: SparkSession, d: String): DataFrame =
    Dedup.firstWinsNearDup(Tables.documents(s, d)).orderBy("doc_id")

  /** Events-table profile: timestamp range as epoch µs. */
  def profileEventsQ(s: SparkSession, d: String): DataFrame =
    Profile.profile(Tables.events(s, d),
      Seq("event_id", "ts", "user_id", "event_type", "value")).orderBy("col_name")

  /** Per-doc lexical diversity: token count, TTR, unigram entropy. */
  def tokenEntropyQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenEntropy(Tables.documents(s, d)).orderBy("doc_id")

  /** Skip-gram (center, context) pair counts within ±2 positions. */
  def skipgramQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.skipgramPairs(Tables.documents(s, d), 2).orderBy("w1", "w2")

  /** Corpus-weighted adjacent char-pair counts (first BPE iteration). */
  def bpePairsQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpePairCounts(Tables.documents(s, d)).orderBy("c1", "c2")

  /** Deterministic contrastive negative sampling (hash-ring, k=3). */
  def negativeSampleQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.negativeSample(Tables.documents(s, d), k = 3, buckets = 16)
      .orderBy("doc_id", "j")

  /** Dedup report: how many near-dup clusters exist at each size — the
    * histogram a corpus build logs after clustering (cluster count and
    * docs affected per size bucket). */
  def dupStats(s: SparkSession, d: String): DataFrame =
    Dedup.dupClusters(candidates(s, d))
      .groupBy("cluster").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** Corpus survivors after near-dup clustering: cluster reps + singletons. */
  def neardupCanonical(s: SparkSession, d: String): DataFrame =
    Dedup.keepNearDupCanonical(Tables.documents(s, d), candidates(s, d))
      .select("doc_id").orderBy("doc_id")

  def keepCanonical(s: SparkSession, d: String): DataFrame =
    Dedup.keepCanonical(Tables.documents(s, d)).select("doc_id").orderBy("doc_id")

  /** MinHash Jaccard estimates on the LSH candidate pairs — the cheap
    * signature-agreement score a pipeline thresholds on before any exact
    * Jaccard. */
  def minhashEst(s: SparkSession, d: String): DataFrame =
    Dedup.minhashEstimates(Tables.documents(s, d))

  /** SimHash near-dup pairs via pigeonhole block banding (scale path);
    * result provably equals the all-pairs hamming filter. */
  def simhashBanded(s: SparkSession, d: String): DataFrame =
    Dedup.simhashBandedPairs(Dedup.simhashes(Tables.documents(s, d)), maxDist = 4)

  /** Incremental "new crawl vs existing corpus" dedup: new = doc_id%5=0,
    * old = the rest (a stable content-independent split of the fixture). */
  def incrementalDedupQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.incrementalDedup(
        docs.where(col("doc_id") % 5 === 0), docs.where(col("doc_id") % 5 =!= 0))
      .orderBy("doc_id")
  }

  /** Content-defined chunking duplicate-chunk report (sub-document dedup). */
  def cdcChunks(s: SparkSession, d: String): DataFrame =
    Dedup.cdcChunkDups(Tables.documents(s, d))

  /** Per-label embedding centroids (class prototypes). */
  def centroids(s: SparkSession, d: String): DataFrame =
    Similarity.labelCentroids(Tables.embeddings(s, d))

  /** Top-20 PMI token pairs (collocation mining) at doc-level counts. */
  def pmiTop(s: SparkSession, d: String): DataFrame =
    TextAnalysis.pmiPairs(Tables.documents(s, d), minCount = 5L, k = 20)

  def bigramCounts(s: SparkSession, d: String): DataFrame =
    TextAnalysis.ngramCounts(Tables.documents(s, d), 2).orderBy("ngram")

  def repetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionMetrics(Tables.documents(s, d)).orderBy("doc_id")

  def stratified(s: SparkSession, d: String): DataFrame =
    TextAnalysis.stratifiedSample(Tables.documents(s, d), "lang", 10)
      .select("doc_id", "lang").orderBy("doc_id")

  /** Length-decile bucketing (NTILE semantics) — the "bin the corpus by
    * size for curriculum/batching" pipeline step; total order
    * (n_chars, doc_id).
    *
    * Scale shape: NOT a global `ntile(10)` window (which funnels the whole
    * corpus through one task). Two passes instead, the
    * [[graft.ext.Temporal.runningSum]] /
    * [[graft.ext.TextAnalysis.shuffleOrder]] scheme: range-partition by the
    * order key, count rows per partition (one tiny driver array), then
    * rank within partitions with the partition offset added and apply
    * NTILE's exact piecewise bucket formula (first n%10 buckets get
    * ceil(n/10) rows) — bit-identical to WindowExec's ntile, every
    * partition in parallel. */
  def lengthDeciles(s: SparkSession, d: String): DataFrame =
    exactNtile(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
      Seq("n_chars", "doc_id"), 10, "decile")
      .orderBy("doc_id")

  /** Exact NTILE(b) over a total order WITHOUT a global window: range-
    * partition by the order key, count rows per partition (one tiny
    * driver array), rank within partitions with the partition offset
    * added, then apply NTILE's piecewise bucket formula (first n%b
    * buckets get ⌈n/b⌉ rows) — bit-identical to WindowExec's `ntile`,
    * every partition in parallel. Output: the input columns + `bucketCol`
    * (1-based int). */
  private[queries] def exactNtile(input: DataFrame, orderCols: Seq[String],
      buckets: Int, bucketCol: String, rankCol: String = null): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = input.sparkSession
    val np = s.sparkContext.defaultParallelism
    val prepared = input
      .repartitionByRange(np, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val rdd = prepared.rdd
    val counts = rdd.mapPartitionsWithIndex((pid, it) =>
        Iterator.single((pid, { var n = 0L; it.foreach(_ => n += 1); n })))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val n = offsets.last
    val q = n / buckets
    val r = n % buckets
    val bc = s.sparkContext.broadcast(offsets)
    val width = prepared.schema.fields.length
    val emitRank = rankCol != null
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var rk = bc.value(pid) // 0-based global rank under orderCols
      it.map { row =>
        val bucket =
          if (q == 0L) (rk + 1).toInt // n < buckets: one row per bucket
          else if (rk < r * (q + 1)) (rk / (q + 1) + 1).toInt
          else (r + (rk - r * (q + 1)) / q + 1).toInt
        val base = (0 until width).map(row.get) :+ bucket
        val cells = if (emitRank) base :+ rk else base
        rk += 1
        Row.fromSeq(cells)
      }
    }
    val fields = prepared.schema.fields :+
      StructField(bucketCol, IntegerType, nullable = false)
    s.createDataFrame(out, StructType(if (emitRank)
      fields :+ StructField(rankCol, LongType, nullable = false) else fields))
  }

  /** Bigram conditional probabilities p(w2|w1) = c(w1 w2)/c(w1·) — the
    * n-gram LM estimation step over the corpus bigram counts. */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    val bi = TextAnalysis.ngramCounts(Tables.documents(s, d), 2)
      .select(split(col("ngram"), " ").getItem(0).as("w1"),
        split(col("ngram"), " ").getItem(1).as("w2"), col("c"))
    val tot = bi.groupBy("w1").agg(sum(col("c")).as("n1"))
    bi.join(broadcast(tot), "w1")
      .select(col("w1"), col("w2"), col("c"),
        round(col("c") / col("n1"), 4).as("p"))
      .orderBy("w1", "w2")
  }

  def cleanPipeline(s: SparkSession, d: String): DataFrame =
    TextAnalysis.cleanCorpus(Tables.documents(s, d))
      .select("doc_id", "lang", "split").orderBy("doc_id")

  /** Decontamination: test-split docs sharing ≥2 trigrams with train. */
  def contamination(s: SparkSession, d: String): DataFrame =
    TextAnalysis.contamination(Tables.documents(s, d)).orderBy("doc_id")

  /** Length-weighted downsampling: keep-probability = min(n_chars/1000, 1).
    * The weight is integer-derived (one exact division), so weight×10000
    * is bit-identical across engines — a ROUND-derived weight (e.g.
    * quality_score) could differ in the last bit exactly at an integer
    * bucket boundary and flip a keep decision. */
  def weightedSample(s: SparkSession, d: String): DataFrame =
    TextAnalysis.weightedSample(
      Tables.documents(s, d)
        .withColumn("w", least(col("n_chars") / 1000.0, lit(1.0))), "w")
      .select("doc_id").orderBy("doc_id")

  /** PII scrub over the corpus: per-class match counts + redacted text. */
  def piiRedact(s: SparkSession, d: String): DataFrame =
    TextAnalysis.piiRedact(Tables.documents(s, d)).orderBy("doc_id")

  /** Markup scrub (HTML/entity/markdown strip + whitespace collapse). */
  def stripMarkup(s: SparkSession, d: String): DataFrame =
    TextAnalysis.stripMarkup(Tables.documents(s, d)).orderBy("doc_id")

  /** Sentence-level exact-dup report (sub-document boilerplate). */
  def sentenceDedup(s: SparkSession, d: String): DataFrame =
    TextAnalysis.sentenceDedup(Tables.documents(s, d)).orderBy("h")

  /** Cross-doc n-gram novelty under the corpus's doc_id order. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame =
    TextAnalysis.ngramNovelty(Tables.documents(s, d)).orderBy("doc_id")

  /** One-row corpus summary (counts, TTR, Zipf head coverage). */
  def corpusStats(s: SparkSession, d: String): DataFrame =
    TextAnalysis.corpusStats(Tables.documents(s, d))

  /** Shared mixture-target weights (also inlined into the oracle CASE). */
  val mixtureWeights: Seq[(String, Double)] =
    Seq("es" -> 1.0, "de" -> 0.5, "zh" -> 0.25)

  /** Fixed-token-budget sequence packing (doc → bin id). */
  def packSequences(s: SparkSession, d: String): DataFrame =
    TextAnalysis.packSequences(Tables.documents(s, d), 2048L).orderBy("doc_id")

  /** Deterministic domain-mixture downsampling to target weights. */
  def mixtureSample(s: SparkSession, d: String): DataFrame =
    TextAnalysis.mixtureSample(Tables.documents(s, d), mixtureWeights.toMap)
      .select("doc_id", "lang").orderBy("doc_id")

  /** Deterministic MLM-style token masking at rate 0.15. */
  def maskTokens(s: SparkSession, d: String): DataFrame =
    TextAnalysis.maskTokens(Tables.documents(s, d), 0.15).orderBy("doc_id")

  /** Bloom-pre-filtered semi-join: orders of customers in nations 0–4.
    * Result provably equals the plain semi-join (the oracle form). */
  def bloomSemi(s: SparkSession, d: String): DataFrame =
    ScaleJoins.bloomSemiJoin(
        Tables.orders(s, d),
        Tables.customer(s, d).where(col("c_nationkey") < 5), "o_custkey", "c_custkey")
      .select("o_orderkey").orderBy("o_orderkey")

  /** q20's revenue rollup routed through the salted skew join — the
    * result multiset is salt-invariant, so the q20 oracle checks it. */
  def saltedRevenue(s: SparkSession, d: String): DataFrame = {
    // exact 1e-4-dollar integer units, like q20: double sums diverge in
    // the 11th significant digit at sf1 revenue magnitudes
    val l = Tables.lineitem(s, d).select(col("l_orderkey"),
      expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)" +
        " * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))").as("r"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    ScaleJoins.saltedJoin(l, o, "l_orderkey", saltFactor = 4)
      .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum("r").cast("double") / lit(10000.0), 4).as("rev"))
      .orderBy("n_name")
  }

  /** Two-level incremental aggregation (daily partials → merged totals);
    * oracle is DuckDB's single-level GROUP BY — the equivalence claim. */
  def partialAggMerge(s: SparkSession, d: String): DataFrame =
    Incremental.mergePartials(Incremental.dailyPartials(Tables.events(s, d)))
      .orderBy("event_type")

  /** Misra–Gries top-20 tokens in EXACT mode: capacity self-sizes to the
    * distinct token count (one count-distinct job, floor 64) so "no
    * decrement ever fires" holds at any sweep scale — the former fixed
    * 64 silently went approximate on the sf1 twin's 10× vocabulary and
    * hash-mismatched its exact-top-k oracle. The sub-capacity
    * approximate path (bounded undercount) is the 100 TB story,
    * spec-checked in SketchesSpec. */
  def topkSketch(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.docsTokenized(s, d)
    val v = toks.select("tok").distinct().count()
    require(v <= (1L << 22), s"exact-mode MG capacity out of range: $v")
    Sketches.heavyHitters(toks, col("tok"),
      capacity = math.max(64L, v).toInt, k = 20)
      .withColumnRenamed("item", "tok")
  }

  /** Z-order layout key over (n_chars, doc_id mod 2^16) + deterministic
    * 8-way file assignment by key rank — via the two-pass [[exactNtile]],
    * not a global window (the production write path is
    * `repartitionByRange` on the key, `Layout.writeZOrdered`). */
  def zorder(s: SparkSession, d: String): DataFrame = {
    val zk = Layout.zorderKey(col("n_chars"), col("doc_id") % 65536)
    exactNtile(Tables.documents(s, d).select(col("doc_id"), zk.as("zkey")),
      Seq("zkey", "doc_id"), 8, "file_id")
      .orderBy("doc_id")
  }

  /** One scratch dir per (format, fixture dir), deleted recursively at
    * JVM exit — repeated Bench/Verify calls in one JVM reuse the written
    * copy instead of leaking one per invocation. */
  private val scratchCache = scala.collection.concurrent.TrieMap[String, String]()
  private def scratchDir(tag: String): String =
    scratchCache.getOrElseUpdate(tag, {
      val p = java.nio.file.Files.createTempDirectory(s"graft_$tag")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        if (Files.exists(p))
          Files.walk(p).sorted(Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
      }))
      p.toString
    })

  /** JSONL sink → source round trip; md5(text) proves payload fidelity. */
  def jsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratchDir("jsonl_" + d.replaceAll("[^a-zA-Z0-9]", "_"))
    val docs = Tables.documents(s, d)
      .select("doc_id", "lang", "source", "n_chars", "text")
    Formats.writeJsonl(docs, tmp)
    Formats.readJsonl(s, tmp, docs.schema)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("h"))
      .orderBy("doc_id")
  }

  /** CSV sink → source round trip (typed read-back, incl. doubles). */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratchDir("csv_" + d.replaceAll("[^a-zA-Z0-9]", "_"))
    val ev = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
    Formats.writeCsv(ev, tmp)
    Formats.readCsv(s, tmp, ev.schema)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("v"))
      .orderBy("event_id")
  }

  /** ORC sink → source round trip over lineitem (columnar twin of the
    * parquet truth; exercises doubles + timestamps through ORC). */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratchDir("orc_" + d.replaceAll("[^a-zA-Z0-9]", "_"))
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_shipdate")
    Formats.writeOrc(li, tmp)
    Formats.readOrc(s, tmp, li.schema)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round(col("l_quantity"), 4).as("qty"), col("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** XML sink → source round trip (Spark 4's native XML source; typed
    * read-back over the orders subset — ints, doubles, strings). */
  def xmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratchDir("xml_" + d.replaceAll("[^a-zA-Z0-9]", "_"))
    val ord = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    Formats.writeXml(ord, tmp)
    Formats.readXml(s, tmp, ord.schema)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 4).as("price"))
      .orderBy("o_orderkey")
  }

  /** Pretraining chunk table: 64-token windows, stride 32. */
  def chunkWindows(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunkWindows(Tables.documents(s, d))
      .orderBy("doc_id", "chunk_idx")

  /** Winnowing fingerprints (k=4 shingles, window 5). */
  def winnow(s: SparkSession, d: String): DataFrame =
    TextAnalysis.winnowFingerprints(Tables.documents(s, d))
      .orderBy("doc_id", "fp")

  /** Substring-level dup candidates: doc pairs sharing ≥2 winnow
    * fingerprints (boilerplate/plagiarism detection over the same
    * fingerprint table ext_winnow dumps). */
  def winnowPairsQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.sharedFingerprintPairs(Tables.documents(s, d))
      .orderBy("doc_a", "doc_b")

  /** Rarest-first ordered shingle-set table, built once per fixture dir
    * and shared by the set-similarity AND containment joins (the
    * candCache pattern) — in a real pipeline both verifiers read the same
    * ordered-set build, so the battery should pay for it once too. */
  private val shingleSetCache = scala.collection.concurrent.TrieMap[String, DataFrame]()
  private def orderedSets(s: SparkSession, d: String): DataFrame =
    shingleSetCache.getOrElseUpdate(sessionKey(s, d), {
      graft.CacheLog.built("shingleSetCache")
      Dedup.orderedShingleSets(Tables.documents(s, d))
    })

  /** Exact Jaccard ≥ 0.5 pairs over distinct 3-shingle sets via the
    * prefix-filtered set-similarity join. The oracle verifies
    * COMPLETENESS, not just the mirrored algorithm: it computes the
    * answer from the plain shared-shingle join (no prefix filter), so a
    * prefix-length bug that dropped pairs would hash-mismatch. */
  def setsimJoinQ(s: SparkSession, d: String): DataFrame =
    Dedup.setSimilarityJoinOn(orderedSets(s, d))
      .orderBy("doc_a", "doc_b")

  /** Asymmetric containment pairs (doc_a ⊆~0.8 doc_b). */
  def containmentJoinQ(s: SparkSession, d: String): DataFrame =
    Dedup.containmentJoinOn(orderedSets(s, d))
      .orderBy("doc_a", "doc_b")

  /** CCNet canonical text form (the dedup-hash input, as data). */
  def normalizeTextQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.normalizeText(Tables.documents(s, d)).orderBy("doc_id")

  /** First-wins survivors of exact dedup over the canonical form. */
  def dedupNormalizedQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.dedupNormalized(Tables.documents(s, d)).orderBy("doc_id")

  /** Source×source exact shingle-Jaccard overlap matrix. */
  def sourceOverlapQ(s: SparkSession, d: String): DataFrame =
    Dedup.sourceOverlap(Tables.documents(s, d)).orderBy("src_a", "src_b")

  /** KMV-sketch estimate of the source overlap matrix (the scale path). */
  def sourceOverlapKmvQ(s: SparkSession, d: String): DataFrame =
    Dedup.sourceOverlapKMV(Tables.documents(s, d)).orderBy("src_a", "src_b")

  /** Target-file-size write plan for a lang-partitioned documents write
    * (64 KiB target so the fixture exercises multi-file partitions). */
  def writePlanQ(s: SparkSession, d: String): DataFrame =
    Layout.writePlan(Tables.documents(s, d), "lang",
      Seq("text", "lang", "source"), fixedWidth = 16, targetBytes = 65536)
      .orderBy("lang")

  /** Hottest join keys of events.user_id with share + skew factor. */
  def skewReportQ(s: SparkSession, d: String): DataFrame =
    ScaleJoins.skewReport(Tables.events(s, d), "user_id", 20)

  /** Exact-size-50 E-S priority sample, weight = ((n_chars%100)+1)/100. */
  def prioritySampleQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.prioritySample(
      Tables.documents(s, d).withColumn("w",
        ((col("n_chars") % 100) + 1) / 100.0),
      "w", 50)

  /** T5 span corruption at block length 3, 10% mask rate. */
  def spanCorruptQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.spanCorrupt(Tables.documents(s, d)).orderBy("doc_id")

  /** Per-language exact-5 Efraimidis–Spirakis weighted sample (same
    * integer-derived weight as ext_priority_sample). */
  def groupSampleQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.groupPrioritySample(
      Tables.documents(s, d).withColumn("w",
        ((col("n_chars") % 100) + 1) / 100.0),
      "w", 5)
      .orderBy("stratum", "doc_id")

  /** Language-ID confusion matrix: predicted vs true language cell
    * counts — the eval rollup of ext_langid (which domains the n-gram
    * heuristic confuses). */
  def langidConfusionQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextAnalysis.languageId(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")
  }

  /** Banding-quality eval: the shared MinHash/LSH candidate set scored
    * against the EXACT Jaccard ≥ 0.5 ground truth — TP/FP/FN counts and
    * integer-derived precision/recall as ONE hash-checked row. The
    * recall of an approximation becomes a regression-guarded number, not
    * a spec-only assertion. */
  def dedupEvalQ(s: SparkSession, d: String): DataFrame = {
    val cand = candidates(s, d).select("doc_a", "doc_b")
    // persist the exact-Jaccard ground truth: it feeds BOTH the TP join
    // and the n_truth count — uncached, the all-pairs verification ran
    // twice (it is the entry's dominant cost; candidates() is already a
    // session-cached build)
    val truth = Dedup.jaccardPairsAtLeast(Tables.documents(s, d), 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // three scalar counts on the driver (bounded); ROUND stays a Spark
    // expression so the rendering semantics match every other entry
    val tp = cand.join(truth, Seq("doc_a", "doc_b")).count()
    val nc = cand.count()
    val nt = truth.count()
    val s2 = s
    import s2.implicits._
    Seq((nc, nt, tp)).toDF("n_cand", "n_truth", "tp")
      .select(col("n_cand"), col("n_truth"), col("tp"),
        (col("n_cand") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        when(col("n_cand") === 0, lit(null))
          .otherwise(round(col("tp").cast("double") / col("n_cand"), 4))
          .as("precision"),
        when(col("n_truth") === 0, lit(null))
          .otherwise(round(col("tp").cast("double") / col("n_truth"), 4))
          .as("recall"))
    } finally truth.unpersist(blocking = false)
  }

  /** Trailing-24h distinct active users per hour — the classic sliding
    * DISTINCT that window frames can't express: each (user, active
    * hour) covers the next 24 result hours via an IN-ROW sequence
    * explode (bounded 24× fan-out, grid capped at the corpus's last
    * hour), then one distinct-count aggregation. Never a per-hour
    * re-scan of the raw events. */
  def slidingActiveQ(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val uh = e.select(col("user_id"), date_trunc("hour", col("ts")).as("h")).distinct()
    val bounds = e.agg(max(date_trunc("hour", col("ts"))).as("hmax"))
    uh.crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(sequence(col("h"),
        least(col("h") + expr("INTERVAL 23 HOURS"), col("hmax")),
        expr("INTERVAL 1 HOUR"))).as("hh"))
      .groupBy("hh").agg(countDistinct(col("user_id")).as("n_active_24h"))
      .orderBy("hh")
  }

  /** Sliding-window (1h long, 30m slide) per-user value average run to
    * completion — the streaming sliding agg; oracle = the two-window
    * expansion (every event lands in exactly two epoch-aligned
    * windows). */
  def streamSlidingQ(s: SparkSession, d: String): DataFrame =
    runStream(graft.streaming.Streams.slidingUserValue(
        graft.streaming.Streams.eventStream(s, d + "/events.parquet")),
      "graft_stream_sliding", "complete")
      .select(col("w"), col("user_id"), round(col("avg_value"), 4).as("avg_value"))
      .orderBy("w", "user_id")

  /** DEFLATE compressibility per doc (rows-only: no SQL DEFLATE). */
  def compressRatioQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.compressionRatio(Tables.documents(s, d)).orderBy("doc_id")

  /** md5-sign random projection of the embeddings to 16 dims. */
  def randomProjectionQ(s: SparkSession, d: String): DataFrame =
    Similarity.randomProjection(Tables.embeddings(s, d))
      .orderBy("vec_id", "j")

  /** Unigram-LM (SentencePiece-family) trained piece table. Rows-only
    * t2 entry (iterative EM probabilities have no tractable SQL twin);
    * cross-run determinism + segmentation semantics live in UnigramSpec. */
  def unigramVocabQ(s: SparkSession, d: String): DataFrame =
    Unigram.train(Tables.documents(s, d), vocabSize = 256, iters = 3,
        seedSize = 2048)
      .select(col("piece"), round(col("logp"), 4).as("logp"))
      .orderBy(col("logp").desc, col("piece"))

  /** Corpus encoded under the unigram model: per-doc piece counts. */
  def unigramEncodeQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val vocab = Unigram.train(docs, vocabSize = 256, iters = 3,
      seedSize = 2048)
    Unigram.encode(docs, vocab)
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
        round(col("n_pieces") / col("n_tokens"), 4).as("pieces_per_token"))
      .orderBy("doc_id")
  }

  /** SCD2 dimension history over the orders changelog: each customer's
    * consecutive same-status runs (order-date order, orderkey tiebreak)
    * collapsed to validity intervals — one shuffle on o_custkey. */
  def scd2Q(s: SparkSession, d: String): DataFrame =
    Temporal.scd2(
        Tables.orders(s, d)
          .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus"),
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
      .orderBy("o_custkey", "run_idx")

  /** Point-in-time (AS OF) lookup against the SCD2 order-status history:
    * every order probes the history 3 days after its own date — which
    * status RUN was in force then? The read side of ext_scd2's write
    * side; inner join drops probes before a customer's first run. */
  def scd2AsofQ(s: SparkSession, d: String): DataFrame = {
    val hist = Temporal.scd2(
      Tables.orders(s, d)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus"),
      "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
    val probes = Tables.orders(s, d).select(
      col("o_orderkey").as("probe_id"), col("o_custkey"),
      (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as("pts"))
    Temporal.scd2Lookup(hist, probes, "o_custkey", "pts")
      .select(col("probe_id"), col("o_custkey"), col("pts"),
        col("o_orderstatus"), col("run_idx"))
      .orderBy("probe_id")
  }

  /** Stream-static broadcast enrichment run to completion: the live
    * event feed picks up its user's dimension row (customer attributes)
    * per micro-batch — stateless, the stream side never shuffles.
    * Oracle = the batch left join. */
  def streamEnrichQ(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_nationkey"),
        col("c_mktsegment"))
    runStream(graft.streaming.Streams.enrich(
        graft.streaming.Streams.eventStream(s, d + "/events.parquet")
          .select(col("event_id"), col("user_id"), col("event_type")),
        dim, "user_id"),
      "graft_stream_enrich", "append")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_nationkey"), col("c_mktsegment"))
      .orderBy("event_id")
  }

  /** Dedup-rate-vs-threshold curve: candidate pairs that each Jaccard
    * threshold (0.5..0.9) would declare duplicates. */
  def jaccardCurveQ(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardThresholdCurve(Tables.documents(s, d))

  /** Phrase-blocklist report with the corpus's own top-8 bigrams as the
    * mined boilerplate list (the in-row contains-HOF path; BlocklistSpec
    * pins the Aho–Corasick path to identical output). */
  def blocklistQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Blocklist.filterReport(docs, Blocklist.minedBigrams(docs, 8))
      .orderBy("doc_id")
  }

  /** Deterministic-HLL shingle cardinality by source, plus the merged
    * `__all__` row built by RE-MAXING the per-source registers (sketch
    * union — no rescan of the corpus; at 100 TB the registers would be
    * the persisted nightly artifact and this query's second pass over
    * the raw occurrences is only the fixture-scale accuracy audit).
    * `n_exact` rides along so the row itself shows the sketch error. */
  def hllCardinalityQ(s: SparkSession, d: String): DataFrame = {
    val occ = Tables.documents(s, d).select(col("source"),
      explode(Dedup.shingles(Dedup.tokens(col("text")), 3)).as("sh"))
    val regs = Sketches.hllRegisters(occ, "source", col("sh"))
    val est = Sketches.hllEstimate(regs, "source")
      .union(Sketches.hllEstimate(
        Sketches.hllMerge(regs, "source", "__all__"), "source"))
    val exact = occ.groupBy("source").agg(countDistinct("sh").as("n_exact"))
      .union(occ.agg(countDistinct("sh").as("n_exact"))
        .select(lit("__all__").as("source"), col("n_exact")))
    est.join(exact, "source")
      .select(col("source"), col("n_exact"),
        round(col("hll_est"), 4).as("hll_est"),
        round(abs(col("hll_est") - col("n_exact")) / col("n_exact"), 4)
          .as("rel_err"))
      .orderBy("source")
  }

  /** Population-stability-index drift per event type vs the pooled value
    * distribution — the binned complement of [[ksDriftQ]] (PSI is what ML
    * monitoring dashboards alarm on; KS is the sup-norm view). Bins are
    * the POOLED exact deciles via the two-pass [[exactNtile]] (no global
    * window), counts collapse to a (type, bin) grid — T·10 rows — and
    * the Laplace-smoothed shares (c+0.5)/(n+5) keep empty cells finite.
    * PSI folds its ten contributions in bin order (deterministic double
    * association, engine-identical). Output: one row per (type, bin)
    * with shares + contribution, and the type's PSI riding along. */
  def psiDriftQ(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"))
      .where(col("value").isNotNull)
    val binned = exactNtile(e, Seq("value", "event_id"), 10, "bin")
    val counts = binned.groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
    val grid = counts.select("event_type").distinct()
      .crossJoin(s.range(1, 11).select(col("id").cast("int").as("bin")))
    val full = grid.join(counts, Seq("event_type", "bin"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val ng = full.groupBy("event_type").agg(sum("c").as("n_g"))
    val pool = full.groupBy("bin").agg(sum("c").as("c_b"))
    val nn = e.agg(count(lit(1)).as("n"))
    val p = (col("c").cast("double") + lit(0.5)) / (col("n_g").cast("double") + lit(5.0))
    val q = (col("c_b").cast("double") + lit(0.5)) / (col("n").cast("double") + lit(5.0))
    val k = full.join(broadcast(ng), "event_type").join(broadcast(pool), "bin")
      .crossJoin(broadcast(nn))
      .select(col("event_type"), col("bin"), col("c"), p.as("p"), q.as("q"))
      .withColumn("contrib", (col("p") - col("q")) * log(col("p") / col("q")))
    val psi = k.groupBy("event_type")
      .agg(aggregate(sort_array(collect_list(struct(col("bin"), col("contrib")))),
        lit(0.0), (acc, x) => acc + x.getField("contrib")).as("psi"))
    k.join(broadcast(psi), "event_type")
      .select(col("event_type"), col("bin"), col("c"),
        round(col("p"), 4).as("share"), round(col("q"), 4).as("pool_share"),
        round(col("contrib"), 4).as("contrib"), round(col("psi"), 4).as("psi"))
      .orderBy("event_type", "bin")
  }

  /** Snapshot diff between two deterministic versions of the events
    * table: v_old drops event_id % 10 == 0 (→ added), v_new drops
    * % 13 == 0 (→ removed) and perturbs value where % 7 == 0
    * (→ changed). One co-partitioned full-outer join; unchanged keys
    * (the bulk) never leave it. */
  def tableDiffQ(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select("event_id", "event_type", "value")
    val vOld = e.where(col("event_id") % 10 =!= 0)
    val vNew = e.where(col("event_id") % 13 =!= 0)
      .withColumn("value",
        when(col("event_id") % 7 === 0, col("value") + 1.0).otherwise(col("value")))
    Incremental.tableDiff(vOld, vNew, "event_id", Seq("event_type", "value"))
      .orderBy("event_id")
  }

  /** Per-event-type KS drift vs the pooled value distribution (the
    * new-batch admission gate). Two-pass vector cumulative — no global-
    * order window. */
  def ksDriftQ(s: SparkSession, d: String): DataFrame =
    Drift.ksDrift(Tables.events(s, d)).orderBy("event_type")

  /** Feature frame for the linear probe: intercept, token count /100,
    * type-token ratio; label = long-document class (n_chars > 300).
    * Every feature is a ratio of exact integers — deterministic doubles. */
  private def probeFeatures(s: SparkSession, d: String): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), toks.as("ts"))
      .where(size(col("ts")) > 0)
      .select(col("doc_id"), col("lang"),
        lit(1.0).as("x1"),
        (size(col("ts")) / lit(100.0)).as("x2"),
        (size(array_distinct(col("ts"))) / size(col("ts"))).as("x3"),
        when(col("n_chars") > 300, 1.0).otherwise(0.0).as("y"))
  }

  /** Linear probe trained by REPRODUCIBLE distributed GD (fixed-point
    * gradient quantization — [[LinearModel]]): 16 full-batch iterations,
    * lr 0.8, then per-doc score + thresholded class. The whole training
    * trajectory is bit-deterministic under any partitioning, which is
    * what lets a 16-iteration distributed training run carry a DuckDB
    * hash oracle (the oracle unrolls the same 16 iterations as CTEs). */
  /** Probe weights trained once per fixture dir and shared by
    * ext_linear_probe AND ext_probe_auc — the training is fixed-point GD
    * (partitioning-invariant, so the value is a pure function of the
    * data; plain doubles carry no session handles). Both queries read
    * the same 16-iteration model, as a real train→score→eval pipeline
    * would. */
  private val probeWCache = scala.collection.concurrent.TrieMap[String, Seq[Double]]()
  private def trainedProbe(s: SparkSession, d: String): Seq[Double] =
    probeWCache.getOrElseUpdate(d, {
      graft.CacheLog.built("probeWCache")
      val f = probeFeatures(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try LinearModel.trainLinearProbe(f, Seq("x1", "x2", "x3"), "y",
        lr = 0.8, iters = 16).toSeq
      finally f.unpersist(false)
    })

  def linearProbeQ(s: SparkSession, d: String): DataFrame = {
    val w = trainedProbe(s, d)
    val sc = LinearModel.score(Seq("x1", "x2", "x3"), w)
    probeFeatures(s, d)
      .select(col("doc_id"), col("y"),
        round(sc, 4).as("score"),
        when(sc >= 0.5, 1).otherwise(0).as("pred"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[linearProbeQ]]: the same 16 GD iterations unrolled
    * as CTE pairs (gradient sums as BIGINT fixed-point, weight update),
    * mirroring every association order of the Spark side. */
  private val probePred = "w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3"

  /** WITH-body of the probe-training replay (f, w0..w{iters}) — shared
    * by the per-doc score oracle and the AUC oracle. */
  private def linearProbeWithBody(iters: Int): String = {
    val grid = "1073741824.0" // 2^30
    // MATERIALIZED: 16 unrolled iterations reference f ~35 times; without
    // the hint DuckDB re-opens the parquet per reference (fd exhaustion)
    val fCte =
      """f AS MATERIALIZED (
        |  SELECT doc_id, lang, CAST(1.0 AS DOUBLE) AS x1, len(ts) / 100.0 AS x2,
        |    len(list_distinct(ts)) / len(ts) AS x3,
        |    CAST(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS DOUBLE) AS y
        |  FROM (SELECT doc_id, lang, n_chars,
        |          list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |        FROM documents)
        |  WHERE len(ts) > 0)""".stripMargin
    // DOUBLE casts: a bare 0.0 is DECIMAL in DuckDB (renders "0.0", and
    // would route the first iteration through decimal arithmetic)
    val w0 = "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w1, " +
      "CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3)"
    val iterCtes = (1 to iters).map { i =>
      val gs = (1 to 3).map(j =>
        s"SUM(CAST(floor(($probePred - f.y) * f.x$j * $grid + 0.5) AS BIGINT)) AS g$j")
        .mkString(", ")
      val ws = (1 to 3).map(j =>
        s"w.w$j - 0.8 * ((CAST(g.g$j AS DOUBLE) / $grid) / g.n) AS w$j")
        .mkString(", ")
      // MATERIALIZED again: w{i} references w{i-1} twice — inlined, the
      // chain would expand into 2^iters subplans
      s"""g$i AS MATERIALIZED (SELECT $gs, COUNT(*) AS n FROM f, w${i - 1} w),
         |w$i AS MATERIALIZED (SELECT $ws FROM w${i - 1} w, g$i g)""".stripMargin
    }
    s"""WITH $fCte,
       |$w0,
       |${iterCtes.mkString(",\n")}""".stripMargin
  }

  private def linearProbeOracleSql(iters: Int): String =
    s"""${linearProbeWithBody(iters)}
       |SELECT f.doc_id, f.y, ROUND($probePred, 4) AS score,
       |  CASE WHEN $probePred >= 0.5 THEN 1 ELSE 0 END AS pred
       |FROM f, w$iters w ORDER BY f.doc_id""".stripMargin

  /** AUC replay: midrank Mann–Whitney over (group, score) tie groups —
    * all-integer until the single final division, mirroring
    * [[LinearModel.auc]]. */
  private def probeAucOracleSql(iters: Int): String =
    s"""${linearProbeWithBody(iters)},
       |sc AS (SELECT f.lang, f.y, $probePred AS s FROM f, w$iters w),
       |a2 AS (SELECT lang AS g, y, s FROM sc
       |       UNION ALL SELECT '__all__' AS g, y, s FROM sc),
       |sg AS (SELECT g, s, COUNT(*) AS t,
       |         SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS p
       |       FROM a2 GROUP BY g, s),
       |c AS (SELECT g, s, t, p,
       |        SUM(t) OVER (PARTITION BY g ORDER BY s) - t AS bef FROM sg),
       |u AS (SELECT g, SUM(p * (2 * bef + t + 1)) AS u2,
       |        SUM(p) AS np, SUM(t) AS n FROM c GROUP BY g)
       |SELECT g AS lang,
       |  ROUND(CAST(u2 - np * (np + 1) AS DOUBLE) / (2.0 * np * (n - np)), 4) AS auc
       |FROM u ORDER BY lang""".stripMargin

  /** Pseudonymized per-entity rollup: user ids salted-hash renamed, then
    * the usual per-entity aggregate — referential integrity surviving
    * pseudonymization, checked by hash (the per-pseudonym counts ARE the
    * per-user counts under the rename). */
  def pseudonymizeQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.pseudonymize(
        Tables.events(s, d).select("user_id", "event_id", "value"),
        "user_id", salt = "graft42")
      .groupBy("user_id_pseud")
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("v"))
      .orderBy("user_id_pseud")

  /** Dominant PPMI eigendirection over ±2-window skip-gram counts — a
    * 5-step distributed power iteration whose trajectory is exactly
    * reproducible (fixed-point mat-vec + sorted-order norm fold), hence
    * hash-checked END TO END including the iteration itself. */
  def ppmiDirectionQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Spectral.ppmiTopDirection(
        TextAnalysis.skipgramPairs(Tables.documents(s, d)), iters = 5)
      .toDF("word", "w")
      .select(col("word"), round(col("w"), 4).as("weight"))
      .orderBy("word")
  }

  /** DuckDB twin of [[ppmiDirectionQ]]: skip-gram counts → PPMI with the
    * integer membership predicate → 5 unrolled power steps (mat-vec as
    * fixed-point BIGINT sums; norm as a sorted-word list fold). */
  private def ppmiDirectionOracleSql(iters: Int): String = {
    val grid = "1073741824.0" // 2^30
    val base =
      s"""$toksCte,
         |dt AS (SELECT doc_id, i, ts[i] AS tok
         |       FROM toks, unnest(range(1, len(ts) + 1)) AS u(i)),
         |pc AS (SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS c
         |       FROM dt a JOIN dt b
         |         ON a.doc_id = b.doc_id AND abs(a.i - b.i) BETWEEN 1 AND 2
         |       GROUP BY a.tok, b.tok),
         |c1 AS (SELECT w1, SUM(c) AS cw FROM pc GROUP BY w1),
         |nn0 AS (SELECT SUM(c) AS n FROM pc),
         |m AS MATERIALIZED (
         |  SELECT pc.w1, pc.w2,
         |    ln(CAST(pc.c AS DOUBLE) * nn0.n / (CAST(a.cw AS DOUBLE) * b.cw)) AS m
         |  FROM pc JOIN c1 a ON a.w1 = pc.w1 JOIN c1 b ON b.w1 = pc.w2, nn0
         |  WHERE pc.c * nn0.n > a.cw * b.cw),
         |x0 AS MATERIALIZED (
         |  SELECT w1 AS w, 1.0 / sqrt(CAST(
         |    (SELECT COUNT(DISTINCT w1) FROM m) AS DOUBLE)) AS v
         |  FROM (SELECT DISTINCT w1 FROM m))""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""y$i AS MATERIALIZED (
         |  SELECT m.w1 AS w,
         |    SUM(CAST(floor(m.m * x.v * $grid + 0.5) AS BIGINT)) AS q
         |  FROM m JOIN x${i - 1} x ON x.w = m.w2 GROUP BY m.w1),
         |n$i AS MATERIALIZED (
         |  SELECT sqrt(list_reduce(list_transform(
         |    list(CAST(q AS DOUBLE) / $grid ORDER BY w), v -> v * v),
         |    (a, b) -> a + b)) AS nn
         |  FROM y$i),
         |x$i AS MATERIALIZED (
         |  SELECT w, (CAST(q AS DOUBLE) / $grid) / n$i.nn AS v FROM y$i, n$i)""".stripMargin
    }
    s"""WITH $base,
       |${steps.mkString(",\n")}
       |SELECT w AS word, ROUND(v, 4) AS weight FROM x$iters ORDER BY word""".stripMargin
  }

  /** Interpolated Kneser–Ney bigram LM: train on 'en', score 'zh' docs
    * (the cross-domain fluency filter, with real smoothing). */
  def knBigramQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.knBigramNll(
        Tables.documents(s, d).where(col("lang").isin("en", "zh")),
        col("lang") === "en")
      .orderBy("doc_id")

  /** Streaming blocklist gate: the corpus-mined phrase list is FROZEN
    * (mined batch-side — the nightly artifact), then applied to a live
    * document stream as a stateless in-row projection — the contains-HOF
    * path of [[Blocklist.filterReport]] works unchanged on a streaming
    * frame (no state, no watermark; the Aho–Corasick path is batch-only
    * — it drops to RDDs). Run to completion, the gate's output must
    * hash-match the batch twin's oracle: the batch-parity claim for
    * live-ingest filtering, checked not asserted. */
  /** Streaming first-wins near-dup gate run to completion: the gate's
    * per-bucket (doc_id, band, owner) decisions land in the sink, then
    * the report rolls them up per doc and left-joins every input doc —
    * the same (doc_id, dup, dup_of) marking as the batch
    * ext_neardup_first_wins, hash-checked against the SAME oracle shape
    * (live/batch parity checked, not asserted). */
  def streamNearDupQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val stream = graft.streaming.Streams.parquetStream(
      s, d + "/documents.parquet", docs.schema)
    val decisions = runStream(
      graft.streaming.Streams.nearDupGate(stream)
        .toDF("doc_id", "band", "owner"),
      "graft_stream_neardup", "append")
    val marked = decisions.groupBy("doc_id")
      .agg(min(col("owner")).as("dup_of0"))
    docs.select("doc_id").join(marked, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of0") < col("doc_id"), 1).otherwise(0).as("dup"),
        when(col("dup_of0") < col("doc_id"), col("dup_of0")).as("dup_of"))
      .orderBy("doc_id")
  }

  def streamBlocklistQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val phrases = Blocklist.minedBigrams(docs, 8)
    val stream = graft.streaming.Streams.parquetStream(
      s, d + "/documents.parquet", docs.schema)
    runStream(Blocklist.filterReport(stream, phrases),
      "graft_stream_blocklist", "append")
      .orderBy("doc_id")
  }

  /** Live-ingest robust-z anomaly gate serving the batch-fit median/MAD
    * stats — run to completion so the emitted rows hash-match the batch
    * filter's oracle (frozen-model parity, checked not asserted). */
  def streamMadQ(s: SparkSession, d: String): DataFrame = {
    val stats = Temporal.robustStats(Tables.events(s, d))
    val stream = graft.streaming.Streams.eventStream(s, d + "/events.parquet")
    runStream(graft.streaming.Streams.robustAnomalyGate(stream, stats),
      "graft_stream_mad", "append")
      .orderBy("event_id")
  }

  /** Exact grouped ROC-AUC of the trained probe, per language plus the
    * pooled `__all__` cohort — the eval step that closes the train →
    * score → evaluate loop, distributed end to end. */
  def probeAucQ(s: SparkSession, d: String): DataFrame = {
    val w = trainedProbe(s, d)
    val sc0 = probeFeatures(s, d).select(col("lang"),
      LinearModel.score(Seq("x1", "x2", "x3"), w).as("s"), col("y"))
    val both = sc0.union(sc0.select(lit("__all__").as("lang"), col("s"), col("y")))
    LinearModel.auc(both, "s", "y", "lang")
      .select(col("lang"), round(col("auc"), 4).as("auc"))
      .orderBy("lang")
  }

  /** Build (once per session per fixture dir) the bucketed
    * orders/lineitem pair — both hash-bucketed by order key into the same
    * bucket count, so joins/aggs on that key need no exchange. The
    * readiness cache is JVM-wide but the tables live in the per-session
    * in-memory catalog, so a cache hit is only trusted when BOTH tables
    * still exist in THIS session's catalog — otherwise rebuild. */
  private val bucketedReady = scala.collection.concurrent.TrieMap[String, (String, String)]()
  private def bucketedPair(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    def build(): (String, String) = {
      val tag = d.replaceAll("[^a-zA-Z0-9]", "_")
      val (no, nl) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
      val o = Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
      val l = Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      // both sides MUST share one bucket count for the zero-exchange
      // join, so size it from the larger projection (lineitem: 3×8-byte
      // columns) — volume-derived, never the hardcoded 8 the r12 sf1
      // sweep caught capping the whole entry at 8-way parallelism
      val nb = Layout.bucketCount(l, strCols = Nil, fixedWidth = 24L)
      Layout.rebuildBucketed(o, no, "o_orderkey", nb)
      Layout.rebuildBucketed(l, nl, "l_orderkey", nb)
      (no, nl)
    }
    val cached = bucketedReady.getOrElseUpdate(d,
      { graft.CacheLog.built("bucketedTables"); build() })
    val (to, tl) =
      if (s.catalog.tableExists(cached._1) && s.catalog.tableExists(cached._2))
        cached
      else { val fresh = build(); bucketedReady.put(d, fresh); fresh }
    (s.table(to), s.table(tl))
  }

  /** Co-located (bucketed) fact⋈fact join: per-order revenue with ZERO
    * shuffle exchanges — both scans report the bucket partitioning, the
    * merge join and the per-order aggregate reuse it (PlanSpec pins the
    * exchange-free shape). The `merge` hint keeps the demonstration
    * honest at small sf (a broadcast would also avoid the shuffle, but
    * for the wrong reason — it stops working at 100 TB; the bucketed
    * merge does not). */
  def bucketedJoinQ(s: SparkSession, d: String): DataFrame = {
    val (o, l) = bucketedPair(s, d)
    o.hint("merge").join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(o("o_orderkey"), o("o_orderstatus"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderkey")
  }

  /** Levenshtein near-dup pairs under 8-char prefix blocking. */
  def editDistance(s: SparkSession, d: String): DataFrame =
    Dedup.editDistancePairs(Tables.documents(s, d))

  /** Native Jaro–Winkler record-linkage top-10 under the same blocking. */
  def jaroWinklerQ(s: SparkSession, d: String): DataFrame =
    Dedup.jaroWinklerPairs(Tables.documents(s, d))

  /** Partitioned-layout round trip: documents written hive-partitioned by
    * lang, read back with a partition filter. PlanSpec asserts the filter
    * lands in PartitionFilters (directory pruning — the scan never lists
    * the other languages' files). */
  def partitionPrune(s: SparkSession, d: String): DataFrame = {
    val tmp = scratchDir("part_" + d.replaceAll("[^a-zA-Z0-9]", "_"))
    val marker = new java.io.File(tmp, "_SUCCESS")
    if (!marker.exists()) // write once per JVM; repeat calls only read
      Layout.writePartitioned(
        Tables.documents(s, d).select("doc_id", "n_chars", "lang"), tmp, "lang")
    Layout.readPartitioned(s, tmp)
      .where(col("lang") === "es")
      .select("doc_id", "n_chars")
      .orderBy("doc_id")
  }

  /** Seeded deterministic training-order permutation. */
  def shuffleOrder(s: SparkSession, d: String): DataFrame =
    TextAnalysis.shuffleOrder(Tables.documents(s, d), seed = 42L)
      .orderBy("doc_id")

  /** Per-user trailing-4-event rolling mean (feature engineering). */
  def rollingFeatures(s: SparkSession, d: String): DataFrame =
    Temporal.rollingMean(
        Tables.events(s, d).select("event_id", "user_id", "ts", "value"),
        "user_id", Seq("ts", "event_id"), "value", 3)
      .select(col("event_id"), col("rolling_mean"))
      .orderBy("event_id")

  /** CDC compaction: each user's latest event (upsert-merge semantics). */
  def compactLatestQ(s: SparkSession, d: String): DataFrame =
    Temporal.compactLatest(
        Tables.events(s, d).select("event_id", "user_id", "ts", "event_type", "value"),
        "user_id", Seq("ts", "event_id"))
      .select(col("user_id"), col("event_id").as("latest_event_id"),
        col("event_type"), round(col("value"), 4).as("v"))
      .orderBy("user_id")

  def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"))
      .orderBy("event_type")

  // md5-derived stub + hyperplanes make these three SQL-replicable too
  def lshPairs(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // bits from corpus volume (Similarity.lshBitsFor: occupancy-bounded,
    // integer-exact) — the oracle derives the identical count from
    // COUNT(*); nBits=8 at fixture scales, 10 at the sf1 twin, 13 at sf10
    Similarity.lshPairsTopK(emb, 10,
      nBits = Similarity.lshBitsFor(tableCount(s, d, "embeddings")),
      dim = 64, seed = 42L)
  }

  def imageFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal.imageFeatures(
      Multimodal.syntheticMedia(s, Tables.documents(s, d))).toDF().orderBy("media_id")

  def audioFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal.audioFeatures(
      Multimodal.syntheticMedia(s, Tables.documents(s, d))).toDF().orderBy("media_id")

  def frameSamples(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.syntheticMedia(s, Tables.documents(s, d)), stride = 4)
      .toDF().orderBy("media_id", "frame_index")

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ext_tfidf" -> tfidf _,
    "ext_hash_split" -> hashSplit _,
    "ext_asof_join" -> asofViewPurchase _,
    "ext_sessionize" -> sessionize _,
    "ext_nearest_join" -> nearestViewPurchase _,
    "ext_cohort_retention" -> cohortRetention _,
    "ext_transitions" -> eventTransitions _,
    "ext_mad_outliers" -> madOutliers _,
    "ext_rfm" -> rfm _,
    "ext_transition_entropy" -> transitionEntropy _,
    "ext_histogram" -> histogram _,
    "ext_gini" -> gini _,
    "ext_fano" -> fano _,
    "ext_decayed_value" -> decayed _,
    "ext_hod_chi2" -> hodChi2 _,
    "ext_event_paths" -> eventPaths _,
    "ext_suffix_array" -> suffixArray _,
    "ext_longest_repeat" -> longestRepeats _,
    "ext_sorted_neighborhood" -> sortedNeighborhood _,
    "ext_zipf" -> zipf _,
    "ext_heaps" -> heaps _,
    "ext_coherence" -> coherence _,
    "ext_welch" -> welch _,
    "ext_interval_join" -> intervalJoin _,
    "ext_funnel" -> funnel _,
    "ext_ivf_topk" -> ivfTopK _,
    "ext_dedup_canonical" -> keepCanonical _,
    "ext_dup_clusters" -> dupClusters _,
    "ext_bigram_counts" -> bigramCounts _,
    "ext_repetition" -> repetition _,
    "ext_stratified_sample" -> stratified _,
    "ext_percentiles" -> percentiles _,
    "ext_clean_pipeline" -> cleanPipeline _,
    "ext_contamination" -> contamination _,
    "ext_weighted_sample" -> weightedSample _,
    "ext_length_deciles" -> lengthDeciles _,
    "ext_bigram_lm" -> bigramLm _,
    "ext_minhash_pairs" -> minhashPairs _,
    "ext_minhash_est" -> minhashEst _,
    "ext_simhash_banded" -> simhashBanded _,
    "ext_incremental_dedup" -> incrementalDedupQ _,
    "ext_cdc_chunks" -> cdcChunks _,
    "ext_label_centroids" -> centroids _,
    "ext_pmi_top20" -> pmiTop _,
    "ext_jaccard_top10" -> jaccardTop _,
    "ext_simhash" -> simhash _,
    "ext_cosine_pairs_top10" -> cosinePairs _,
    "ext_embedding_neardup" -> nearDup _,
    "ext_ann_topk" -> annTopK _,
    "ext_kmeans" -> kmeansAssign _,
    "ext_quantize_int8" -> quantizeInt8 _,
    "ext_bm25" -> bm25Rank _,
    "ext_lm_score" -> lmScoreQ _,
    "ext_langid" -> langId _,
    "ext_quality" -> quality _,
    "ext_token_stats" -> tokenStats _,
    "ext_fingerprint" -> fingerprint _,
    "ext_lsh_pairs_top10" -> lshPairs _,
    "ext_pack_sequences" -> packSequences _,
    "ext_mixture_sample" -> mixtureSample _,
    "ext_mask_tokens" -> maskTokens _,
    "ext_pii_redact" -> piiRedact _,
    "ext_sentence_dedup" -> sentenceDedup _,
    "ext_ngram_novelty" -> ngramNovelty _,
    "ext_corpus_stats" -> corpusStats _,
    "ext_multimodal_image_features" -> imageFeatures _,
    "ext_multimodal_audio" -> audioFeatures _,
    "ext_multimodal_frames" -> frameSamples _,
    "ext_bloom_semi_join" -> bloomSemi _,
    "ext_salted_revenue" -> saltedRevenue _,
    "ext_partial_agg_merge" -> partialAggMerge _,
    "ext_topk_sketch" -> topkSketch _,
    "ext_zorder" -> zorder _,
    "ext_jsonl_roundtrip" -> jsonlRoundtrip _,
    "ext_csv_roundtrip" -> csvRoundtrip _,
    "ext_rolling_features" -> rollingFeatures _,
    "ext_compact_latest" -> compactLatestQ _,
    "ext_strip_markup" -> stripMarkup _,
    "ext_orc_roundtrip" -> orcRoundtrip _,
    "ext_xml_roundtrip" -> xmlRoundtrip _,
    "ext_chunk_windows" -> chunkWindows _,
    "ext_winnow" -> winnow _,
    "ext_winnow_pairs" -> winnowPairsQ _,
    "ext_setsim_join" -> setsimJoinQ _,
    "ext_containment_join" -> containmentJoinQ _,
    "ext_normalize_text" -> normalizeTextQ _,
    "ext_dedup_normalized" -> dedupNormalizedQ _,
    "ext_source_overlap" -> sourceOverlapQ _,
    "ext_source_overlap_kmv" -> sourceOverlapKmvQ _,
    "ext_random_projection" -> randomProjectionQ _,
    "ext_compress_ratio" -> compressRatioQ _,
    "ext_write_plan" -> writePlanQ _,
    "ext_skew_report" -> skewReportQ _,
    "ext_priority_sample" -> prioritySampleQ _,
    "ext_unigram_vocab" -> unigramVocabQ _,
    "ext_unigram_encode" -> unigramEncodeQ _,
    "ext_edit_distance" -> editDistance _,
    "ext_partition_prune" -> partitionPrune _,
    "ext_shuffle_order" -> shuffleOrder _,
    "ext_pagerank" -> pageRankQ _,
    "ext_importance_weights" -> importanceWeightsQ _,
    "ext_ewma" -> ewmaQ _,
    "ext_quantile_sketch" -> quantileSketchQ _,
    "ext_neardup_canonical" -> neardupCanonical _,
    "ext_negative_sample" -> negativeSampleQ _,
    "ext_token_entropy" -> tokenEntropyQ _,
    "ext_skipgram" -> skipgramQ _,
    "ext_bpe_pairs" -> bpePairsQ _,
    "ext_group_quantiles" -> groupQuantilesQ _,
    "ext_resample_ffill" -> resampleQ _,
    "ext_rebalance" -> rebalanceQ _,
    "ext_dup_stats" -> dupStats _,
    "ext_winsorize" -> winsorizeQ _,
    "ext_trigram_backoff" -> trigramBackoffQ _,
    "ext_stream_tumbling" -> streamTumblingQ _,
    "ext_stream_dedup" -> streamDedupQ _,
    "ext_wordpiece_vocab" -> wordpieceVocabQ _,
    "ext_wordpiece_encode" -> wordpieceEncodeQ _,
    "ext_tokenizer_fertility" -> tokenizerFertilityQ _,
    "ext_doremi" -> doremiQ _,
    "ext_scd2_asof" -> scd2AsofQ _,
    "ext_stream_enrich" -> streamEnrichQ _,
    "ext_jaccard_curve" -> jaccardCurveQ _,
    "ext_span_corrupt" -> spanCorruptQ _,
    "ext_group_sample" -> groupSampleQ _,
    "ext_langid_confusion" -> langidConfusionQ _,
    "ext_dedup_eval" -> dedupEvalQ _,
    "ext_funnel_latency" -> funnelLatencyQ _,
    "ext_type_cooccur" -> typeCooccurQ _,
    "ext_char_entropy" -> charEntropyQ _,
    "ext_rolling_median" -> rollingMedianQ _,
    "ext_token_mi" -> tokenMiQ _,
    "ext_trimmed_mean" -> trimmedMeanQ _,
    "ext_sliding_active" -> slidingActiveQ _,
    "ext_stream_sliding" -> streamSlidingQ _,
    "ext_keywords" -> keywordsQ _,
    "ext_syllables" -> syllablesQ _,
    "ext_twa" -> twaQ _,
    "ext_interval_merge" -> intervalMergeQ _,
    "ext_standardize" -> standardizeQ _,
    "ext_curriculum" -> curriculumQ _,
    "ext_stream_ewma" -> streamEwmaQ _,
    "ext_stream_sessions" -> streamSessionsQ _,
    "ext_stream_interval_join" -> streamIntervalJoinQ _,
    "ext_nb_classify" -> nbClassifyQ _,
    "ext_profile" -> profileQ _,
    "ext_profile_events" -> profileEventsQ _,
    "ext_neardup_first_wins" -> firstWinsQ _,
    "ext_vocab_coverage" -> vocabCoverageQ _,
    "ext_rrf_fusion" -> rrfFusionQ _,
    "ext_inverted_index" -> invertedIndexQ _,
    "ext_bm25_from_index" -> bm25FromIndexQ _,
    "ext_domain_kl" -> domainKlQ _,
    "ext_oov_rate" -> oovRateQ _,
    "ext_pq_topk" -> pqTopkQ _,
    "ext_ivfpq_topk" -> ivfPqTopkQ _,
    "ext_bpe_train" -> bpeTrainQ _,
    "ext_bpe_encode" -> bpeEncodeQ _,
    "ext_mixture_alloc" -> mixtureAllocQ _,
    "ext_semdedup" -> semDedupQ _,
    "ext_gopher_filter" -> gopherQ _,
    "ext_repeated_spans" -> repeatedSpansQ _,
    "ext_remove_spans" -> removeSpansQ _,
    "ext_scd2" -> scd2Q _,
    "ext_blocklist" -> blocklistQ _,
    "ext_bucketed_join" -> bucketedJoinQ _,
    "ext_hll_cardinality" -> hllCardinalityQ _,
    "ext_linear_probe" -> linearProbeQ _,
    "ext_ks_drift" -> ksDriftQ _,
    "ext_table_diff" -> tableDiffQ _,
    "ext_probe_auc" -> probeAucQ _,
    "ext_psi_drift" -> psiDriftQ _,
    "ext_jaro_winkler" -> jaroWinklerQ _,
    "ext_stream_blocklist" -> streamBlocklistQ _,
    "ext_stream_neardup" -> streamNearDupQ _,
    "ext_stream_mad" -> streamMadQ _,
    "ext_kneser_ney" -> knBigramQ _,
    "ext_triangles" -> trianglesQ _,
    "ext_ppmi_direction" -> ppmiDirectionQ _,
    "ext_pseudonymize" -> pseudonymizeQ _,
    "ext_readability" -> readabilityQ _,
    "ext_lexical_diversity" -> lexicalDiversityQ _,
    "ext_benford" -> benfordQ _,
    "ext_cusum" -> cusumQ _,
    "ext_autocorr" -> autocorrQ _,
    "ext_phrase_search" -> phraseSearchQ _,
    "ext_clustering_coef" -> clusteringCoefQ _,
    "ext_ppl_buckets" -> pplBucketsQ _,
    "ext_iqr_outliers" -> iqrOutliersQ _,
    "ext_ab_test" -> abTestQ _,
    "ext_control_chart" -> controlChartQ _,
    "ext_markov_stationary" -> markovStationaryQ _,
    "ext_js_divergence" -> jsDivergenceQ _,
    "ext_token_burstiness" -> tokenBurstinessQ _,
    "ext_source_lang_mix" -> sourceLangMixQ _,
    "ext_hourly_entropy" -> hourlyEntropyQ _,
    "ext_peaks" -> peaksQ _,
    "ext_stickiness" -> stickinessQ _,
    "ext_seasonal_naive" -> seasonalNaiveQ _,
    "ext_stream_quota" -> streamQuotaQ _,
    "ext_sparse_cosine" -> sparseCosineQ _,
    "ext_degree_dist" -> degreeDistQ _,
    "ext_assortativity" -> assortativityQ _,
    "ext_chi2_homogeneity" -> chi2HomogeneityQ _,
    "ext_conductance" -> conductanceQ _,
    "ext_probe_calibration" -> probeCalibrationQ _,
    "ext_hash_features" -> hashFeaturesQ _,
    "ext_kaplan_meier" -> kaplanMeierQ _,
    "ext_jackknife" -> jackknifeQ _,
    "ext_rbo" -> rboQ _,
    "ext_path_surprisal" -> pathSurprisalQ _,
    "ext_session_gap_curve" -> sessionGapCurveQ _,
    "ext_k_anonymity" -> kAnonymityQ _,
    "ext_multimodal_dedup" -> mediaDedupQ _,
    "ext_real_phash_dedup" -> realPhashDedupQ _,
    "ext_anova_f" -> anovaFQ _,
    "ext_type_hour_mi" -> typeHourMiQ _,
    "ext_isotropy" -> isotropyQ _,
    "ext_wasserstein" -> wassersteinQ _,
    "ext_tail_index" -> tailIndexQ _,
    "ext_json_field_stats" -> jsonFieldStatsQ _,
    "ext_circular_hour" -> circularHourQ _,
    "ext_bm25_sweep" -> bm25SweepQ _,
    "ext_char_census" -> charCensusQ _,
    "ext_boilerplate_tokens" -> boilerplateTokensQ _,
    "ext_user_entropy" -> userEntropyQ _,
    "ext_weekly_share_drift" -> weeklyShareDriftQ _,
    "ext_new_vs_returning" -> newVsReturningQ _,
    "ext_spearman" -> spearmanQ _,
    "ext_mann_whitney" -> mannWhitneyQ _,
    "ext_kruskal_wallis" -> kruskalWallisQ _,
    "ext_kendall_tau" -> kendallTauQ _,
    "ext_retrieval_eval" -> retrievalEvalQ _,
    "ext_adamic_adar" -> adamicAdarQ _,
    "ext_lift_gains" -> liftGainsQ _,
    "ext_target_encoding" -> targetEncodingQ _,
    "ext_woe_iv" -> woeIvQ _,
    "ext_l_diversity" -> lDiversityQ _,
    "ext_dp_counts" -> dpCountsQ _,
    "ext_holt" -> holtQ _,
    "ext_runs_test" -> runsTestQ _,
    "ext_lorenz" -> lorenzQ _,
    "ext_cramers_v" -> cramersVQ _,
    "ext_odds_ratio" -> oddsRatioQ _,
    "ext_hhi" -> hhiQ _,
    "ext_kcore" -> kCoreQ _,
    "ext_textrank" -> textrankQ _,
    "ext_attribution" -> attributionQ _,
    "ext_ab_srm" -> abSrmQ _,
    "ext_cuped" -> cupedQ _,
    "ext_did" -> didQ _,
    "ext_mmr" -> mmrQ _,
    "ext_weighted_quantile" -> weightedQuantileQ _,
    "ext_seasonal_decompose" -> seasonalDecomposeQ _,
    "ext_assoc_rules" -> assocRulesQ _,
    "ext_bfs" -> bfsQ _,
    "ext_probe_pr" -> probePrQ _,
    "ext_chao1" -> chao1Q _,
    "ext_cohort_ltv" -> cohortLtvQ _,
    "ext_gini_stump" -> giniStumpQ _,
    "ext_knn_eval" -> knnEvalQ _,
    "ext_knn_eval_ivf" -> knnEvalIvfQ _,
    "ext_silhouette" -> silhouetteQ _,
    "ext_nelson_aalen" -> nelsonAalenQ _,
    "ext_logrank" -> logRankQ _,
    "ext_brier" -> brierQ _,
    "ext_bcubed" -> bcubedQ _,
    "ext_dunn" -> dunnQ _,
    "ext_cluster_ari" -> clusterAriQ _,
    "ext_cluster_nmi" -> clusterNmiQ _,
    "ext_durbin_watson" -> durbinWatsonQ _,
    "ext_mann_kendall" -> mannKendallQ _,
    "ext_jarque_bera" -> jarqueBeraQ _,
    "ext_brown_forsythe" -> brownForsytheQ _,
    "ext_t_closeness" -> tClosenessQ _,
    "ext_qld" -> queryLikelihoodQ _,
    "ext_closeness" -> closenessQ _,
    "ext_approx_closeness" -> approxClosenessQ _,
    "ext_calinski" -> chIndexQ _,
    "ext_davies_bouldin" -> dbIndexQ _,
    "ext_vmeasure" -> vMeasureQ _,
    "ext_dist_distances" -> distDistancesQ _,
    "ext_err" -> errEvalQ _,
    "ext_profile_cosine" -> profileCosineQ _,
    "ext_corr_matrix" -> corrMatrixQ _,
    "ext_rouge" -> rougeQ _,
    "ext_holt_winters" -> holtWintersQ _,
    "ext_energy_distance" -> energyDistanceQ _,
    "ext_cvm" -> cvmQ _,
    "ext_token_dispersion" -> tokenDispersionQ _,
    "ext_keyness" -> keynessQ _,
    "ext_bootstrap_ci" -> bootstrapCiQ _,
    "ext_markov_attribution" -> markovAttributionQ _,
    "ext_effect_sizes" -> effectSizesQ _,
  )

  // ---------------- DuckDB oracle SQL ----------------

  private val toksCte =
    """toks AS (
      |  SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents
      |)""".stripMargin

  private val sh3Cte =
    """sh AS (
      |  SELECT doc_id, list_transform(range(1, len(ts) - 1),
      |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS sh
      |  FROM toks WHERE len(ts) >= 3
      |)""".stripMargin

  private val embCte =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"

  /** The 45 two-block combinations (band id, block i, block j) of the
    * phash combination banding, as a SQL VALUES list — generated so the
    * oracle keys on EXACTLY the combos `Multimodal.phashBandedPairs`
    * defaults enumerate. */
  private val phashComboVals =
    (0 until 10).combinations(2).toSeq.zipWithIndex
      .map { case (c, id) => s"(${id}, ${c(0)}, ${c(1)})" }
      .mkString(", ")

  /** WordPiece vocab-mining CTE chain (word histogram → weighted
    * prefix/interior candidates → top-50 per form + char floor), shared
    * by the vocab dump and the recursive-CTE encoder. RECURSIVE is
    * declared here so the encode entry can append its `enc` member.
    * Mirrors [[graft.ext.Wordpiece.vocab]]. */
  private val wordpieceCtes =
    """RECURSIVE toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents
      |),
      |occ AS (SELECT unnest(ts) AS tok FROM toks),
      |wf AS (SELECT tok, COUNT(*) AS c FROM occ GROUP BY tok),
      |pref AS (
      |  SELECT substr(tok, 1, CAST(l AS INT)) AS piece, SUM(c) AS w
      |  FROM wf, unnest(range(2, least(7, len(tok) + 1))) AS t(l)
      |  GROUP BY 1),
      |topi AS (SELECT piece, 0 AS cont, CAST(w AS BIGINT) AS w FROM pref
      |         ORDER BY w DESC, piece LIMIT 50),
      |subs AS (
      |  SELECT substr(tok, CAST(s AS INT), CAST(l AS INT)) AS piece, SUM(c) AS w
      |  FROM wf,
      |    unnest(range(2, len(tok))) AS tts(s),
      |    unnest(range(2, 7)) AS tl(l)
      |  WHERE l <= len(tok) - s + 1
      |  GROUP BY 1),
      |topc AS (SELECT piece, 1 AS cont, CAST(w AS BIGINT) AS w FROM subs
      |         ORDER BY w DESC, piece LIMIT 50),
      |chi AS (SELECT substr(tok, 1, 1) AS piece, 0 AS cont,
      |        CAST(SUM(c) AS BIGINT) AS w FROM wf GROUP BY 1),
      |chc AS (SELECT substr(tok, CAST(s AS INT), 1) AS piece, 1 AS cont,
      |        CAST(SUM(c) AS BIGINT) AS w
      |        FROM wf, unnest(range(2, len(tok) + 1)) AS t(s) GROUP BY 1),
      |vocab AS (
      |  SELECT * FROM topi UNION ALL SELECT * FROM topc
      |  UNION ALL SELECT * FROM chi UNION ALL SELECT * FROM chc)""".stripMargin

  /** Language-ID prediction CTE chain (stopword hit counts → argmax with
    * the stopword-seq tie order), shared by the per-doc dump and the
    * confusion-matrix rollup. Mirrors [[graft.ext.TextAnalysis.languageId]]. */
  private lazy val langidPredCtes =
    s"""$toksCte,
       |s AS (SELECT doc_id,
       |  len(list_filter(ts, t -> list_contains(${stopList("de")}, t))) AS s_de,
       |  len(list_filter(ts, t -> list_contains(${stopList("en")}, t))) AS s_en,
       |  len(list_filter(ts, t -> list_contains(${stopList("es")}, t))) AS s_es,
       |  len(list_filter(ts, t -> list_contains(${stopList("fr")}, t))) AS s_fr,
       |  len(list_filter(ts, t -> list_contains(${stopList("zh")}, t))) AS s_zh
       |  FROM toks),
       |pred AS (SELECT doc_id, CASE
       |  WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_zh = 0 THEN 'und'
       |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |  WHEN s_fr >= s_zh THEN 'fr'
       |  ELSE 'zh' END AS lang_pred
       |FROM s)""".stripMargin

  /** SimHash signature CTE chain (toks → per-token md5 → 60-bit signature),
    * shared by the signature dump and the banded-pairs oracle. Mirrors
    * [[graft.ext.Dedup.simhashes]]. */
  private val simhashCtes =
    s"""$toksCte,
       |hashed AS (SELECT doc_id, list_transform(ts, t -> md5(t)) AS hs FROM toks),
       |sims AS (
       |  SELECT doc_id, list_sum(list_transform(range(0, 60), j ->
       |    CASE WHEN list_sum(list_transform(hs, h ->
       |      2 * (((strpos('0123456789abcdef', substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1)
       |            // CAST(pow(2, 3 - j % 4) AS BIGINT)) % 2) - 1)) > 0
       |    THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END))::BIGINT AS simhash
       |  FROM hashed
       |)""".stripMargin

  private def cosSql(a: String, b: String) =
    s"ROUND(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 4)"

  /** Unrounded cosine — for ORDERING that the Spark side does on the raw
    * double (rounding before ranking would reorder near-ties). */
  private def cosRawSql(a: String, b: String) =
    s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"

  private def stopList(lang: String) =
    TextAnalysis.stopwords.toMap.apply(lang).map(w => s"'$w'").mkString("[", ",", "]")

  /** MinHash banding CTE chain (toks → shingles → signatures → band keys)
    * shared by the pair and cluster oracles. Hash family i = 8-hex-char
    * slice of md5((i/4) || ':' || s), mirroring [[graft.ext.Dedup.minhashFamily]]. */
  private val minhashBandsCtes =
    s"""$toksCte, $sh3Cte,
       |sig AS (
       |  SELECT doc_id, list_transform(range(0, 8),
       |    i -> list_min(list_transform(sh,
       |      s -> substr(md5((i // 4)::VARCHAR || ':' || s), CAST((i % 4) * 8 + 1 AS INT), 8)))) AS sig
       |  FROM sh WHERE len(sh) > 0
       |),
       |bands AS (
       |  SELECT doc_id, b.band AS band,
       |         md5(sig[2*b.band + 1] || '|' || sig[2*b.band + 2]) AS key
       |  FROM sig, (SELECT unnest(range(0, 4)) AS band) b
       |)""".stripMargin

  /** PageRank iteration CTE: r{i+1} from r{i} over edge list `e` with
    * degrees `deg` and node count `nn.n` (mirrors [[Graph.pageRank]]). */
  private def prIter(prev: String, next: String) =
    s"""$next AS (
       |  SELECT e.dst AS id, 0.15 / MAX(nn.n) + 0.85 * SUM($prev.r / deg.dg) AS r
       |  FROM e JOIN $prev ON $prev.id = e.src JOIN deg ON deg.src = e.src, nn
       |  GROUP BY e.dst
       |)""".stripMargin

  /** 25 unrolled power-iteration CTEs over the event-type transition
    * matrix (mirrors [[graft.ext.Temporal.markovStationary]]): the full
    * S×S matrix incl. dangling self-loops, each iteration's per-state
    * fold in ascending source-state order via `list_reduce(list(... ORDER
    * BY i))` — matching the Spark side's ascending-i accumulator, so the
    * double association is identical. */
  private val markovStationarySql: String = {
    // every CTE MATERIALIZED: DuckDB inlines plain CTEs at each reference,
    // which makes a 25-deep chain exponential to plan
    val iters = (1 to 25).map { k =>
      val prev = if (k == 1) "p0" else s"p${k - 1}"
      s"""p$k AS MATERIALIZED (SELECT pm.j AS i,
         |  list_reduce(list($prev.r * pm.p ORDER BY pm.i), (a, b) -> a + b) AS r
         |  FROM pm JOIN $prev ON $prev.i = pm.i GROUP BY pm.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT user_id, event_type AS f,
       |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
       |  FROM events),
       |tr AS (SELECT f, t, COUNT(*) AS c FROM seq WHERE t IS NOT NULL GROUP BY f, t),
       |states AS (SELECT event_type AS st,
       |    ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS i
       |  FROM (SELECT DISTINCT event_type FROM events)),
       |ot AS (SELECT f, CAST(SUM(c) AS BIGINT) AS tot FROM tr GROUP BY f),
       |pm AS MATERIALIZED (
       |  SELECT si.i AS i, sj.i AS j,
       |    CASE WHEN ot.tot IS NULL
       |         THEN CASE WHEN si.i = sj.i THEN 1.0 ELSE 0.0 END
       |         ELSE CAST(COALESCE(tr.c, 0) AS DOUBLE) / ot.tot END AS p
       |  FROM states si CROSS JOIN states sj
       |  LEFT JOIN ot ON ot.f = si.st
       |  LEFT JOIN tr ON tr.f = si.st AND tr.t = sj.st),
       |nn AS (SELECT COUNT(*) AS n FROM states),
       |p0 AS MATERIALIZED (SELECT i, 1.0 / nn.n AS r FROM states, nn),
       |$iters
       |SELECT s.st AS event_type,
       |  ROUND(p25.r + SIGN(p25.r) * 0.000000001, 4) AS pi
       |FROM p25 JOIN states s ON s.i = p25.i ORDER BY event_type""".stripMargin
  }

  /** Winnowing CTE chain (toks → k=4 shingle hashes → window-5 selected
    * fingerprints per doc), shared by the fingerprint dump and the
    * shared-fingerprint pair oracle. Mirrors
    * [[graft.ext.TextAnalysis.winnowFingerprints]]. */
  private val winnowCtes: String =
    s"""$toksCte,
       |hs AS (
       |  SELECT doc_id, list_transform(range(1, len(ts) - 2),
       |    i -> substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]), 1, 8)) AS hs
       |  FROM toks WHERE len(ts) >= 4
       |),
       |sel AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(hs) - 4 + 1),
       |    i -> list_min(list_slice(hs, i, i + 4)))) AS fps
       |  FROM hs WHERE len(hs) >= 5
       |)""".stripMargin

  /** Shared by ext_ewma and ext_stream_ewma (identical output contract):
    * closed-form EWMA per (user, rank-in-user) over DuckDB lists. */
  private val ewmaOracleSql: String =
    """WITH s AS (
      |  SELECT user_id, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS i
      |  FROM events
      |),
      |l AS (SELECT user_id, list(value ORDER BY i) AS xs FROM s GROUP BY user_id),
      |raw AS (
      |  SELECT s.user_id, s.event_id,
      |    CASE WHEN i = 1 THEN xs[1] ELSE
      |      list_sum(list_transform(range(2, i + 1), j -> 0.2 * pow(0.8, i - j) * xs[j]))
      |      + pow(0.8, i - 1) * xs[1] END AS v
      |  FROM s JOIN l USING (user_id))
      |SELECT user_id, event_id, ROUND(v + SIGN(v) * 0.000000001, 4) + 0.0 AS ewma
      |FROM raw ORDER BY event_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "ext_trigram_backoff" ->
      """WITH tl AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents WHERE lang IN ('en', 'zh')
        |),
        |c3 AS (SELECT g, COUNT(*) AS c FROM (
        |  SELECT unnest(list_transform(range(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
        |  FROM tl WHERE lang = 'en' AND len(ts) >= 3) GROUP BY g),
        |c2 AS (SELECT g, COUNT(*) AS c FROM (
        |  SELECT unnest(list_transform(range(1, len(ts)),
        |    i -> ts[i] || ' ' || ts[i+1])) AS g
        |  FROM tl WHERE lang = 'en' AND len(ts) >= 2) GROUP BY g),
        |c1 AS (SELECT w, COUNT(*) AS c FROM (
        |  SELECT unnest(ts) AS w FROM tl WHERE lang = 'en') GROUP BY w),
        |tot AS (SELECT SUM(c) AS n1, COUNT(*) AS v FROM c1),
        |ev AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
        |         i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
        |       FROM tl WHERE lang = 'zh' AND len(ts) >= 3),
        |q AS (SELECT doc_id, g, string_split(g, ' ') AS ps FROM ev),
        |s AS (SELECT q.doc_id,
        |  CASE WHEN c3.c IS NOT NULL THEN c3.c / b12.c
        |       ELSE 0.4 * (CASE WHEN b23.c IS NOT NULL THEN b23.c / u2.c
        |                        ELSE 0.4 * (COALESCE(u3.c, 0) + 1.0) / (tot.n1 + tot.v)
        |                   END)
        |  END AS sc
        |  FROM q
        |  LEFT JOIN c3 ON c3.g = q.g
        |  LEFT JOIN c2 b12 ON b12.g = q.ps[1] || ' ' || q.ps[2]
        |  LEFT JOIN c2 b23 ON b23.g = q.ps[2] || ' ' || q.ps[3]
        |  LEFT JOIN c1 u2 ON u2.w = q.ps[2]
        |  LEFT JOIN c1 u3 ON u3.w = q.ps[3], tot)
        |SELECT doc_id, ROUND(AVG(-ln(sc)), 4) AS nll
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // PERCENTILE_DISC thresholds (value at rank ⌈q·n⌉) per stratum, then
    // clip — all-integer, no float rendering anywhere
    "ext_winsorize" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents
        |),
        |th AS (SELECT lang,
        |  MIN(CASE WHEN rn = GREATEST(1, CAST(ceil(0.05 * n) AS BIGINT)) THEN n_chars END) AS lo,
        |  MIN(CASE WHEN rn = GREATEST(1, CAST(ceil(0.95 * n) AS BIGINT)) THEN n_chars END) AS hi
        |  FROM r GROUP BY lang)
        |SELECT r.doc_id, r.lang, r.n_chars,
        |  LEAST(GREATEST(r.n_chars, th.lo), th.hi) AS clipped
        |FROM r JOIN th USING (lang) ORDER BY r.doc_id""".stripMargin,

    "ext_rebalance" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
        |  FROM documents
        |),
        |m AS (SELECT MIN(n) AS n_min FROM (SELECT COUNT(*) AS n FROM r GROUP BY lang))
        |SELECT doc_id, lang FROM r, m WHERE rk <= n_min
        |ORDER BY doc_id""".stripMargin,

    // forward fill via the portable gaps-and-islands form (no IGNORE NULLS):
    // grp = running count of observations, fill = MAX within (key, grp);
    // grid bounded to the trailing GridMaxSpanHours window with the
    // latest pre-window value as the fill seed (engine contract)
    "ext_resample_ffill" ->
      s"""WITH hb AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |),
        |lastv AS (SELECT user_id, h, value AS v FROM hb WHERE rn = 1),
        |bounds AS (SELECT user_id,
        |             GREATEST(MIN(h),
        |               MAX(h) - INTERVAL ${Temporal.GridMaxSpanHours - 1} HOURS)
        |               AS h0,
        |             MAX(h) AS h1
        |           FROM lastv GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |         FROM bounds),
        |seed AS (SELECT l.user_id, arg_max(l.v, l.h) AS seedv
        |         FROM lastv l JOIN bounds b USING (user_id)
        |         WHERE l.h < b.h0 GROUP BY l.user_id),
        |joined AS (
        |  SELECT g.user_id, g.h, l.v,
        |    SUM(CASE WHEN l.v IS NOT NULL THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY g.user_id ORDER BY g.h) AS grp
        |  FROM grid g LEFT JOIN lastv l ON l.user_id = g.user_id AND l.h = g.h
        |)
        |SELECT j.user_id, j.h,
        |  ROUND(COALESCE(MAX(j.v) OVER (PARTITION BY j.user_id, j.grp),
        |    sd.seedv), 4) AS v,
        |  CASE WHEN j.v IS NOT NULL THEN 1 ELSE 0 END AS observed
        |FROM joined j LEFT JOIN seed sd USING (user_id)
        |ORDER BY user_id, h""".stripMargin,

    // same rank rule as ext_quantile_sketch (value at rank ⌈q·n⌉), per group
    "ext_group_quantiles" ->
      """WITH s AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents
        |),
        |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q)
        |SELECT s.lang, qs.q, ROUND(s.v, 4) AS value
        |FROM qs, s
        |WHERE s.rn = GREATEST(1, CAST(ceil(qs.q * s.n) AS BIGINT))
        |ORDER BY lang, q""".stripMargin,

    "ext_token_entropy" ->
      s"""WITH $toksCte,
         |occ AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |bow AS (SELECT doc_id, tok, COUNT(*) AS c FROM occ GROUP BY doc_id, tok)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
         |  ROUND(COUNT(*) * 1.0 / SUM(c), 4) AS ttr,
         |  ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) + 0.0 AS entropy
         |FROM bow GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ext_skipgram" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, i, ts[i] AS tok
         |       FROM toks, unnest(range(1, len(ts) + 1)) AS u(i))
         |SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS c
         |FROM dt a JOIN dt b
         |  ON a.doc_id = b.doc_id AND abs(a.i - b.i) BETWEEN 1 AND 2
         |GROUP BY 1, 2 ORDER BY w1, w2""".stripMargin,

    "ext_bpe_pairs" ->
      s"""WITH $toksCte,
         |occ AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |v AS (SELECT tok, COUNT(*) AS c FROM occ GROUP BY tok),
         |pos AS (SELECT tok, c, CAST(i AS INT) AS i
         |        FROM v, unnest(range(1, len(tok))) AS u(i)
         |        WHERE len(tok) >= 2)
         |SELECT substr(tok, i, 1) AS c1, substr(tok, i + 1, 1) AS c2,
         |  CAST(SUM(c) AS BIGINT) AS n
         |FROM pos GROUP BY 1, 2 ORDER BY c1, c2""".stripMargin,

    "ext_negative_sample" ->
      """WITH s AS (
        |  SELECT doc_id, md5('neg:' || CAST(doc_id AS VARCHAR)) AS h FROM documents
        |),
        |r AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(h, 1, 6) AS BIGINT) % 16 AS bkt,
        |    ROW_NUMBER() OVER (PARTITION BY (CAST('0x' || substr(h, 1, 6) AS BIGINT) % 16)
        |                       ORDER BY h, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY (CAST('0x' || substr(h, 1, 6) AS BIGINT) % 16)) AS n
        |  FROM s
        |),
        |js AS (SELECT unnest(range(1, 4)) AS j)
        |SELECT a.doc_id, b.doc_id AS neg_id, CAST(js.j AS INT) AS j
        |FROM r a JOIN js ON a.n > 1
        |JOIN r b ON b.bkt = a.bkt AND b.rn = ((a.rn - 1 + js.j) % a.n) + 1
        |WHERE b.doc_id <> a.doc_id
        |ORDER BY a.doc_id, j""".stripMargin,

    "ext_quantile_sketch" ->
      """WITH s AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn
        |           FROM events WHERE value IS NOT NULL),
        |n AS (SELECT COUNT(*) AS c FROM s),
        |qs AS (SELECT CAST(unnest([0.1, 0.5, 0.9, 0.99]) AS DOUBLE) AS q)
        |SELECT qs.q, ROUND(s.value, 4) AS value
        |FROM qs, n, s
        |WHERE s.rn = GREATEST(1, CAST(ceil(qs.q * n.c) AS BIGINT))
        |ORDER BY qs.q""".stripMargin,

    "ext_pagerank" ->
      s"""WITH $minhashBandsCtes,
         |prs AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         |),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |      UNION ALL SELECT doc_b, doc_a FROM prs),
         |deg AS (SELECT src, COUNT(*) AS dg FROM e GROUP BY src),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
         |r0 AS (SELECT src AS id, 1.0 / n AS r FROM deg, nn),
         |${prIter("r0", "r1")}, ${prIter("r1", "r2")}, ${prIter("r2", "r3")},
         |${prIter("r3", "r4")}, ${prIter("r4", "r5")}
         |SELECT id AS doc_id, ROUND(r + SIGN(r) * 0.000000001, 4) AS pr
         |FROM r5 ORDER BY doc_id""".stripMargin,

    // mirrors the Spark plan's association exactly: per-(doc,tok) BOW
    // counts, weighted mean Σc·lw / Σc — ONE multiply per bow row on both
    // engines, so no c-fold re-addition can drift a weight across a
    // ROUND(.,4) boundary
    "ext_importance_weights" ->
      """WITH occ AS (
        |  SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents
        |),
        |bow AS (SELECT doc_id, lang, tok, COUNT(*) AS c FROM occ GROUP BY 1, 2, 3),
        |ac AS (SELECT tok, SUM(c) AS c_all,
        |         COALESCE(SUM(c) FILTER (WHERE lang = 'es'), 0) AS c_t
        |       FROM bow GROUP BY tok),
        |tot AS (SELECT SUM(c_all) AS n_all, SUM(c_t) AS n_t, COUNT(*) AS v FROM ac),
        |w AS (SELECT tok, ln(((c_t + 1.0) / (n_t + v)) / ((c_all + 1.0) / (n_all + v))) AS lw
        |      FROM ac, tot),
        |agg AS (SELECT bow.doc_id, SUM(bow.c * w.lw) / SUM(bow.c) AS v
        |        FROM bow JOIN w USING (tok) GROUP BY bow.doc_id)
        |SELECT doc_id, ROUND(v + SIGN(v) * 0.000000001, 4) + 0.0 AS w
        |FROM agg ORDER BY doc_id""".stripMargin,

    // Numeric-boundary stabilization (here, ext_pagerank,
    // ext_importance_weights): Spark computes these recursively /
    // shuffle-order-summed while the oracle uses closed forms or SQL
    // aggregates, so a raw value within 1 ulp of a ROUND(.,4) half-way
    // point could round apart. Both sides therefore round through the
    // SAME sign-aware epsilon shift — [[graft.functions.StableRound]] on
    // the Spark side, `ROUND(v + SIGN(v) * 1e-9, 4)` in the SQL — which
    // moves every natural half-way value strictly inside its bucket
    // while leaving all other outputs untouched (exact halves already
    // round away from zero in both engines). importance_weights
    // additionally mirrors the multiply association exactly (comment
    // above) and pagerank fixes the iteration count.
    "ext_ewma" -> ewmaOracleSql,

    // the streaming operators' run-to-completion outputs are plain batch
    // results over the finite fixture → same oracles as their batch twins
    "ext_stream_ewma" -> ewmaOracleSql,
    "ext_stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS c,
        |ROUND(SUM(value), 4) AS s FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the streaming session_window rollup == the batch gap-split rollup
    // (no exact-gap events in the fixtures, so the >/>= edge never bites)
    "ext_stream_sessions" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |s AS (
        |  SELECT *, SUM(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM x
        |)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
        |FROM s GROUP BY user_id, sess ORDER BY user_id, session_start""".stripMargin,

    "ext_stream_interval_join" ->
      """WITH v AS (SELECT event_id AS view_id, user_id, ts AS vts FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS pts FROM events WHERE event_type = 'purchase')
        |SELECT v.view_id, p.purchase_id
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND p.pts >= v.vts - INTERVAL 3600 SECONDS AND p.pts <= v.vts
        |ORDER BY v.view_id, p.purchase_id""".stripMargin,

    // numeric ranges only (string collation ordering is engine-specific)
    "ext_profile" ->
      """SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(doc_id) AS n_null, COUNT(DISTINCT doc_id) AS n_distinct,
        |  ROUND(MIN(CAST(doc_id AS DOUBLE)), 4) AS min_num,
        |  ROUND(MAX(CAST(doc_id AS DOUBLE)), 4) AS max_num FROM documents
        |UNION ALL
        |SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM documents
        |UNION ALL
        |SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
        |  ROUND(MIN(CAST(n_chars AS DOUBLE)), 4), ROUND(MAX(CAST(n_chars AS DOUBLE)), 4) FROM documents
        |UNION ALL
        |SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM documents
        |UNION ALL
        |SELECT 'text', COUNT(*), COUNT(*) - COUNT(text), COUNT(DISTINCT text),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM documents
        |ORDER BY col_name""".stripMargin,

    "ext_profile_events" ->
      """SELECT 'event_id' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(event_id) AS n_null, COUNT(DISTINCT event_id) AS n_distinct,
        |  ROUND(MIN(CAST(event_id AS DOUBLE)), 4) AS min_num,
        |  ROUND(MAX(CAST(event_id AS DOUBLE)), 4) AS max_num FROM events
        |UNION ALL
        |SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(event_type), COUNT(DISTINCT event_type),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM events
        |UNION ALL
        |SELECT 'ts', COUNT(*), COUNT(*) - COUNT(ts), COUNT(DISTINCT ts),
        |  ROUND(CAST(epoch_us(MIN(ts)) AS DOUBLE), 4),
        |  ROUND(CAST(epoch_us(MAX(ts)) AS DOUBLE), 4) FROM events
        |UNION ALL
        |SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id), COUNT(DISTINCT user_id),
        |  ROUND(MIN(CAST(user_id AS DOUBLE)), 4), ROUND(MAX(CAST(user_id AS DOUBLE)), 4) FROM events
        |UNION ALL
        |SELECT 'value', COUNT(*), COUNT(*) - COUNT(value), COUNT(DISTINCT value),
        |  ROUND(MIN(CAST(value AS DOUBLE)), 4), ROUND(MAX(CAST(value AS DOUBLE)), 4) FROM events
        |ORDER BY col_name""".stripMargin,

    "ext_nb_classify" ->
      """WITH toks AS (
        |  SELECT doc_id, source AS cls,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |cls AS (SELECT source AS cls, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n_total FROM documents),
        |prior AS (SELECT cls, ln(CAST(n_docs AS DOUBLE) / n_total) AS logprior FROM cls, nd),
        |tc AS (SELECT tok, cls, COUNT(*) AS n_tc FROM toks GROUP BY 1, 2),
        |nc AS (SELECT cls, COUNT(*) AS n_c FROM toks GROUP BY 1),
        |vocab AS (SELECT DISTINCT tok FROM toks),
        |v AS (SELECT COUNT(*) AS v FROM vocab),
        |grid AS (
        |  SELECT vocab.tok, c.cls,
        |    ln((COALESCE(tc.n_tc, 0) + 1) / CAST(nc.n_c + v.v AS DOUBLE)) AS logp
        |  FROM vocab CROSS JOIN (SELECT cls FROM cls) c
        |  LEFT JOIN tc ON tc.tok = vocab.tok AND tc.cls = c.cls
        |  JOIN nc ON nc.cls = c.cls CROSS JOIN v),
        |bow AS (SELECT doc_id, tok, COUNT(*) AS n_td FROM toks GROUP BY 1, 2),
        |ll AS (SELECT bow.doc_id, grid.cls, SUM(bow.n_td * grid.logp) AS ll
        |       FROM bow JOIN grid USING (tok) GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.doc_id, p.cls, COALESCE(ll.ll, 0) + p.logprior AS score
        |  FROM (SELECT doc_id FROM documents) d CROSS JOIN prior p
        |  LEFT JOIN ll ON ll.doc_id = d.doc_id AND ll.cls = p.cls),
        |rk AS (SELECT doc_id, cls, score,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
        |  FROM scored)
        |SELECT doc_id, cls AS pred, ROUND(score, 4) AS nb_score
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // ranks on the ROUND(·,4) scores that ext_bm25 and Q23's cosine
    // already verify identical across engines, so no raw-double rank
    // flip can occur; the fused score is a fixed-order sum of exact
    // rationals 1/(60+r) over identical integer ranks
    "ext_rrf_fusion" ->
      s"""WITH ${bm25Ctes(Bm25Terms, k1 = 1.2, b = 0.75)},
         |lexall AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM bm),
         |lex AS (SELECT doc_id, CAST(r AS INT) AS lex_rank FROM lexall WHERE r <= 50),
         |$embCte,
         |qv AS (SELECT e FROM e WHERE vec_id = 0),
         |cs AS (SELECT v.vec_id, ${cosSql("v.e", "qv.e")} AS cos
         |       FROM e v, qv WHERE v.vec_id <> 0),
         |vecall AS (SELECT vec_id AS doc_id,
         |  row_number() OVER (ORDER BY cos DESC, vec_id) AS r FROM cs),
         |vec AS (SELECT doc_id, CAST(r AS INT) AS vec_rank FROM vecall WHERE r <= 50),
         |f AS (SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, lex_rank, vec_rank,
         |  COALESCE(1.0 / (60 + lex_rank), 0.0) + COALESCE(1.0 / (60 + vec_rank), 0.0) AS rrf
         |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id),
         |top AS (SELECT * FROM f ORDER BY rrf DESC, doc_id LIMIT 20)
         |SELECT doc_id, lex_rank, vec_rank, ROUND(rrf, 4) AS rrf
         |FROM top ORDER BY rrf DESC, doc_id""".stripMargin,

    "ext_inverted_index" ->
      s"""WITH $toksCte,
         |occ AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |tfc AS (SELECT tok, doc_id // 100 AS segment, doc_id, COUNT(*) AS tf
         |        FROM occ GROUP BY 1, 2, 3),
         |pl AS (SELECT tok, segment, list(doc_id ORDER BY doc_id) AS ids,
         |         list(tf ORDER BY doc_id) AS tfs
         |       FROM tfc GROUP BY tok, segment)
         |SELECT tok, segment, CAST(len(ids) AS INT) AS df, CAST(t.i - 1 AS INT) AS pos,
         |  ids[CAST(t.i AS INT)] - CASE WHEN t.i = 1 THEN 0
         |    ELSE ids[CAST(t.i AS INT) - 1] END AS gap,
         |  tfs[CAST(t.i AS INT)] AS tf
         |FROM pl, unnest(range(1, len(ids) + 1)) AS t(i)
         |ORDER BY tok, segment, pos""".stripMargin,

    // same association as the Spark side everywhere; the per-stratum sum
    // rounds through the SIGN(v)*1e-9 stabilization (see ext_ewma note)
    "ext_domain_kl" ->
      """WITH occ AS (
        |  SELECT source AS stratum,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents
        |),
        |sc AS (SELECT stratum, tok, COUNT(*) AS c_s FROM occ GROUP BY 1, 2),
        |cc AS (SELECT tok, SUM(c_s) AS c_a FROM sc GROUP BY tok),
        |tot AS (SELECT SUM(c_a) AS n_a, COUNT(*) AS v FROM cc),
        |st AS (SELECT stratum, SUM(c_s) AS n_s FROM sc GROUP BY stratum),
        |grid AS (SELECT st.stratum, cc.tok, cc.c_a, st.n_s, tot.n_a, tot.v,
        |           COALESCE(sc.c_s, 0) AS c_s
        |         FROM cc CROSS JOIN st CROSS JOIN tot
        |         LEFT JOIN sc ON sc.stratum = st.stratum AND sc.tok = cc.tok),
        |terms AS (SELECT stratum,
        |  ((c_s + 1.0) / (n_s + v)) *
        |    ln(((c_s + 1.0) / (n_s + v)) / ((c_a + 1.0) / (n_a + v))) AS term
        |  FROM grid),
        |agg AS (SELECT stratum, SUM(term) AS v FROM terms GROUP BY stratum)
        |SELECT stratum, ROUND(v + SIGN(v) * 0.000000001, 4) AS kl
        |FROM agg ORDER BY stratum""".stripMargin,

    "ext_oov_rate" ->
      """WITH voc AS (
        |  SELECT DISTINCT tok FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE lang = 'es'
        |  ) WHERE tok <> ''
        |),
        |occ AS (
        |  SELECT source AS stratum,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents
        |),
        |agg AS (SELECT stratum, COUNT(*) AS n_toks,
        |          COUNT(*) FILTER (WHERE voc.tok IS NULL) AS n_oov
        |        FROM occ LEFT JOIN voc ON occ.tok = voc.tok GROUP BY stratum)
        |SELECT stratum, n_toks, n_oov,
        |  ROUND(CAST(n_oov AS DOUBLE) / n_toks, 4) AS oov_rate
        |FROM agg ORDER BY stratum""".stripMargin,

    "ext_pq_topk" -> pqOracle(dim = 64, m = 4, k = 8, iters = 1, queryId = 0L, topK = 25),

    "ext_ivfpq_topk" -> ivfpqOracle(dim = 64, m = 4, k = 8, kc = 8, nprobe = 2,
      iters = 1, queryId = 0L, topK = 10),

    "ext_bpe_train" -> bpeSql._1,
    "ext_bpe_encode" -> bpeSql._2,

    // same association as the Spark side: bp = B * (pow(n,α) / z) + 1e-9,
    // base = floor(bp), rem = bp - floor(bp); the epsilon keeps a product
    // within 1 ulp of an integer from flooring apart across engines
    "ext_mixture_alloc" ->
      """WITH occ AS (
        |  SELECT source AS stratum,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents
        |),
        |ns AS (SELECT stratum, COUNT(*) AS n_toks FROM occ GROUP BY stratum),
        |tot AS (SELECT SUM(pow(n_toks, 0.5)) AS z FROM ns),
        |sc AS (SELECT stratum, n_toks,
        |         100000 * (pow(n_toks, 0.5) / z) + 0.000000001 AS bp
        |       FROM ns, tot),
        |fl AS (SELECT stratum, n_toks, CAST(floor(bp) AS BIGINT) AS base,
        |         bp - floor(bp) AS rem FROM sc),
        |s AS (SELECT CAST(SUM(base) AS BIGINT) AS sb FROM fl),
        |rk AS (SELECT stratum, row_number() OVER (ORDER BY rem DESC, stratum) AS r FROM fl)
        |SELECT fl.stratum, fl.n_toks,
        |  fl.base + CASE WHEN rk.r <= 100000 - s.sb THEN 1 ELSE 0 END AS alloc
        |FROM fl JOIN rk USING (stratum), s ORDER BY fl.stratum""".stripMargin,

    "ext_minhash_pairs" ->
      s"""WITH $minhashBandsCtes
         |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    // coverage curve via the count histogram (tokens of equal count are
    // interchangeable, so the minimal vocab is exact integer arithmetic)
    "ext_vocab_coverage" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY 1),
        |hist AS (SELECT c, COUNT(*) AS f FROM cnt GROUP BY 1),
        |cum AS (SELECT c, f,
        |  CAST(SUM(c * f) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass,
        |  CAST(SUM(f) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
        |  FROM hist),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
        |th AS (SELECT * FROM (VALUES (1, 2), (9, 10), (19, 20), (99, 100)) AS t(num, den)),
        |x AS (SELECT th.num, th.den, cum.c, cum.cum_mass,
        |        cum.cum_mass - cum.c * cum.f AS prev_mass,
        |        cum.cum_toks - cum.f AS prev_toks,
        |        (tot.total * th.num + th.den - 1) // th.den AS target, tot.total
        |      FROM cum CROSS JOIN tot CROSS JOIN th),
        |r AS (SELECT *, row_number() OVER (PARTITION BY num, den ORDER BY cum_mass) AS rn
        |      FROM x WHERE cum_mass >= target)
        |SELECT ROUND(CAST(num AS DOUBLE) / den, 4) AS pct,
        |  CAST(prev_toks + (target - prev_mass + c - 1) // c AS BIGINT) AS vocab_size,
        |  ROUND(CAST(prev_mass + ((target - prev_mass + c - 1) // c) * c AS DOUBLE) / total, 4) AS coverage
        |FROM r WHERE rn = 1 ORDER BY pct""".stripMargin,

    // first-wins bucket dedup: dup iff an earlier doc shares a band bucket
    // (min-owner per bucket, min-owner per doc — no pair materialization)
    "ext_neardup_first_wins" ->
      s"""WITH $minhashBandsCtes,
         |own AS (SELECT band, key, MIN(doc_id) AS owner FROM bands GROUP BY 1, 2),
         |mk AS (SELECT b.doc_id, MIN(o.owner) AS dup_of0
         |       FROM bands b JOIN own o ON b.band = o.band AND b.key = o.key
         |       GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN mk.dup_of0 < d.doc_id THEN 1 ELSE 0 END AS dup,
         |  CASE WHEN mk.dup_of0 < d.doc_id THEN mk.dup_of0 END AS dup_of
         |FROM documents d LEFT JOIN mk ON mk.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // connected components over the same candidate pairs: every doc in the
    // pair graph labeled with the smallest reachable doc_id
    "ext_dup_clusters" ->
      s"""WITH RECURSIVE $minhashBandsCtes,
         |prs AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         |),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
         |          UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(id, r) AS (
         |  SELECT a, a FROM edges GROUP BY a
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
         |)
         |SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id
         |ORDER BY doc_id""".stripMargin,

    // cluster-size histogram over the same connected components
    "ext_dup_stats" ->
      s"""WITH RECURSIVE $minhashBandsCtes,
         |prs AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         |),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
         |          UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(id, r) AS (
         |  SELECT a, a FROM edges GROUP BY a
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
         |),
         |labels AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         |sizes AS (SELECT cluster, COUNT(*) AS sz FROM labels GROUP BY cluster)
         |SELECT sz AS cluster_size, COUNT(*) AS n_clusters
         |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin,

    // survivors after near-dup clustering: drop clustered docs that are
    // not their cluster's representative (= min reachable doc_id)
    "ext_neardup_canonical" ->
      s"""WITH RECURSIVE $minhashBandsCtes,
         |prs AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         |),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
         |          UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(id, r) AS (
         |  SELECT a, a FROM edges GROUP BY a
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
         |),
         |labels AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster)
         |ORDER BY doc_id""".stripMargin,

    "ext_jaccard_top10" ->
      s"""WITH $toksCte, $sh3Cte,
         |dsh AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM dsh a JOIN dsh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jac
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |ORDER BY jac DESC, doc_a, doc_b LIMIT 10""".stripMargin,

    "ext_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin,

    // banding is a plan change, not a semantics change: the banded result
    // equals the all-pairs hamming filter, so the oracle IS the all-pairs
    // form over the same signatures
    "ext_simhash_banded" ->
      s"""WITH $simhashCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS dist
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
         |ORDER BY doc_a, doc_b""".stripMargin,

    // same candidate pairs as ext_minhash_pairs, scored by the classic
    // signature-agreement estimator agree/k
    "ext_minhash_est" ->
      s"""WITH $minhashBandsCtes,
         |prs AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         |)
         |SELECT p.doc_a, p.doc_b,
         |  ROUND(len(list_filter(range(0, 8),
         |    i -> sa.sig[CAST(i AS INT) + 1] = sb.sig[CAST(i AS INT) + 1])) / 8.0, 4) AS est_jaccard
         |FROM prs p JOIN sig sa ON sa.doc_id = p.doc_a JOIN sig sb ON sb.doc_id = p.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,

    // bands are per-doc, so the global bands CTE filtered by the split
    // predicate equals banding each side separately (what Spark does)
    "ext_incremental_dedup" ->
      s"""WITH $minhashBandsCtes,
         |newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |oldh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 <> 0),
         |ex AS (SELECT DISTINCT doc_id FROM newd WHERE md5(text) IN (SELECT h FROM oldh)),
         |ob AS (SELECT DISTINCT band, key FROM bands WHERE doc_id % 5 <> 0),
         |nr AS (SELECT DISTINCT b.doc_id FROM bands b
         |       JOIN ob USING (band, key) WHERE b.doc_id % 5 = 0)
         |SELECT d.doc_id,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_dup,
         |  CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS near_dup
         |FROM newd d LEFT JOIN ex ON ex.doc_id = d.doc_id
         |LEFT JOIN nr ON nr.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // same chunking chain as Dedup.cdcChunkDups: boundary after token i
    // when md5 of the 3-gram ending at i lands in bucket 0 of 8
    "ext_cdc_chunks" ->
      s"""WITH $toksCte,
         |tp AS (SELECT doc_id, ts FROM toks WHERE len(ts) > 0),
         |px AS (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM tp),
         |p AS (SELECT doc_id, i - 1 AS pos, ts[CAST(i AS INT)] AS tok,
         |  CASE WHEN i >= 4 AND CAST('0x' || substr(md5(
         |         ts[CAST(i AS INT) - 3] || ' ' || ts[CAST(i AS INT) - 2] || ' ' ||
         |         ts[CAST(i AS INT) - 1]), 1, 4) AS BIGINT) % 8 = 0
         |       THEN 1 ELSE 0 END AS flag
         |  FROM px),
         |ch AS (SELECT doc_id, pos, tok, CAST(SUM(flag) OVER (
         |  PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS BIGINT) AS chunk
         |  FROM p),
         |ct AS (SELECT doc_id, chunk, string_agg(tok, ' ' ORDER BY pos) AS chunk_text
         |       FROM ch GROUP BY 1, 2)
         |SELECT md5(chunk_text) AS h, COUNT(*) AS c, COUNT(DISTINCT doc_id) AS n_docs
         |FROM ct GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY h""".stripMargin,

    // + 0.0 normalizes IEEE -0.0 (a tiny-negative mean rounded to zero) to
    // +0.0: Spark's decimal-based round never emits -0.0, DuckDB's does —
    // first observed at sf0.1 (latent at sf0.01)
    "ext_label_centroids" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |x AS (SELECT label, unnest(range(1, 65)) AS j, e FROM e)
        |SELECT label, CAST(j - 1 AS INT) AS pos,
        |  ROUND(AVG(e[CAST(j AS INT)]), 4) + 0.0 AS c
        |FROM x GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,

    "ext_pmi_top20" ->
      s"""WITH $toksCte,
         |dts AS (SELECT doc_id, list_sort(list_distinct(ts)) AS ts FROM toks),
         |nd AS (SELECT COUNT(CASE WHEN len(ts) > 0 THEN 1 END) AS nd FROM dts),
         |dt AS (SELECT doc_id, unnest(ts) AS tok FROM dts),
         |un AS (SELECT tok, COUNT(*) AS c FROM dt GROUP BY tok),
         |pr AS (SELECT a.tok AS ta, b.tok AS tb, COUNT(*) AS c_ab
         |       FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |       GROUP BY 1, 2 HAVING COUNT(*) >= 5)
         |SELECT pr.ta, pr.tb, pr.c_ab,
         |  ROUND(ln((pr.c_ab * nd.nd) / (ua.c * ub.c)), 4) AS pmi
         |FROM pr JOIN un ua ON ua.tok = pr.ta JOIN un ub ON ub.tok = pr.tb
         |CROSS JOIN nd
         |ORDER BY pmi DESC, ta, tb LIMIT 20""".stripMargin,

    "ext_cosine_pairs_top10" ->
      s"""WITH $embCte,
         |keep AS MATERIALIZED (SELECT vec_id FROM e
         |  ORDER BY md5('eslice' || CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT ${Similarity.EvalSliceRows}),
         |es AS MATERIALIZED (SELECT e.vec_id, e.e FROM e JOIN keep USING (vec_id))
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${cosSql("a.e", "b.e")} AS cos
         |FROM es a JOIN es b ON a.vec_id < b.vec_id
         |ORDER BY cos DESC, vec_a, vec_b LIMIT 10""".stripMargin,

    "ext_embedding_neardup" ->
      s"""WITH $embCte,
         |keep AS MATERIALIZED (SELECT vec_id FROM e
         |  ORDER BY md5('eslice' || CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT ${Similarity.EvalSliceRows}),
         |es AS MATERIALIZED (SELECT e.vec_id, e.e FROM e JOIN keep USING (vec_id))
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${cosSql("a.e", "b.e")} AS cos
         |FROM es a JOIN es b ON a.vec_id < b.vec_id
         |WHERE ${cosSql("a.e", "b.e")} >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,

    "ext_ann_topk" ->
      s"""WITH $embCte,
         |q AS (SELECT vec_id AS query_id, e AS qe FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, c.vec_id, ${cosSql("c.e", "q.qe")} AS cos
         |  FROM e c, q WHERE c.vec_id <> q.query_id
         |),
         |ranked AS (
         |  SELECT query_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM scored
         |)
         |SELECT query_id, vec_id, cos, rnk FROM ranked WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    "ext_langid" ->
      s"""WITH $langidPredCtes
         |SELECT doc_id, lang_pred FROM pred ORDER BY doc_id""".stripMargin,

    // eval rollup of ext_langid: predicted vs true language cell counts
    "ext_langid_confusion" ->
      s"""WITH $langidPredCtes
         |SELECT d.lang, p.lang_pred, COUNT(*) AS n
         |FROM pred p JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ext_quality" ->
      s"""WITH $toksCte,
         |m AS (SELECT doc_id,
         |  len(ts) AS n_tokens,
         |  ROUND(list_sum(list_transform(ts, t -> length(t))) * 1.0 / len(ts), 4) AS avg_tok_len,
         |  ROUND(len(list_filter(ts, t -> list_contains(${stopList("en")}, t))) * 1.0 / len(ts), 4) AS stopword_ratio,
         |  ROUND((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text), 4) AS digit_ratio
         |  FROM toks)
         |SELECT doc_id, n_tokens, avg_tok_len, stopword_ratio, digit_ratio,
         |  0.3 * least(n_tokens / 100.0, 1.0) + 0.4 * stopword_ratio
         |      + 0.3 * least(avg_tok_len / 10.0, 1.0) AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin,

    "ext_token_stats" ->
      s"""WITH $toksCte
         |SELECT doc_id, len(ts) AS ws_tokens,
         |  len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]')) AS re_tokens
         |FROM toks ORDER BY doc_id""".stripMargin,

    "ext_fingerprint" ->
      s"""WITH $toksCte
         |SELECT doc_id, CASE WHEN len(ts) >= 5 THEN
         |  list_min(list_transform(list_transform(range(1, len(ts) - 3),
         |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]),
         |    s -> md5(s)))
         |  ELSE md5(text) END AS fp
         |FROM toks ORDER BY doc_id""".stripMargin,

    "ext_tfidf" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |bow AS (SELECT doc_id, tok, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
         |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM dt GROUP BY 1),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dt)
         |SELECT b.doc_id, b.tok, b.tf, b.tf * ln(CAST(n.n AS DOUBLE) / d.df) AS tfidf
         |FROM bow b JOIN df d USING (tok), n
         |ORDER BY doc_id, tok""".stripMargin,

    // frequency-mined WordPiece piece table: top-50 multi-char pieces
    // per form (prefixes / interior substrings, word-frequency weighted,
    // (w desc, piece) tie order) + the single-char coverage floor.
    // Multi-char and single-char pools are disjoint by length.
    "ext_wordpiece_vocab" ->
      s"""WITH $wordpieceCtes
         |SELECT piece, cont, w FROM vocab ORDER BY cont, piece""".stripMargin,

    // greedy longest-match-first encode as a recursive CTE: each step
    // consumes the longest vocab piece matching the remaining prefix
    // (NOT EXISTS kills any match with a longer competitor of the same
    // form); np=0 selects the word-initial form. Mirrors
    // graft.ext.Wordpiece.encode's imperative loop exactly.
    "ext_wordpiece_encode" ->
      s"""WITH $wordpieceCtes,
         |enc AS (
         |  SELECT tok, tok AS rest, CAST('' AS VARCHAR) AS acc, 0 AS np FROM wf
         |  UNION ALL
         |  SELECT e.tok, substr(e.rest, len(v.piece) + 1) AS rest,
         |    CASE WHEN e.acc = '' THEN v.piece
         |         ELSE e.acc || ' ##' || v.piece END AS acc,
         |    e.np + 1 AS np
         |  FROM enc e JOIN vocab v
         |    ON v.cont = CASE WHEN e.np = 0 THEN 0 ELSE 1 END
         |   AND v.piece = substr(e.rest, 1, len(v.piece))
         |  WHERE e.rest <> ''
         |    AND NOT EXISTS (SELECT 1 FROM vocab v2
         |      WHERE v2.cont = v.cont AND len(v2.piece) > len(v.piece)
         |        AND v2.piece = substr(e.rest, 1, len(v2.piece)))
         |)
         |SELECT e.tok, w.c, e.np AS n_pieces, e.acc AS pieces
         |FROM enc e JOIN wf w USING (tok) WHERE e.rest = ''
         |ORDER BY e.tok""".stripMargin,

    // binary-feature MI per token vs the language label: every log
    // argument is a ratio of exact integer products (<= N^2 < 2^53)
    "ext_token_mi" ->
      """WITH occ AS (
        |  SELECT lang AS l,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |ctl AS (SELECT tok, l, COUNT(*) AS ctl FROM occ GROUP BY 1, 2),
        |ct AS (SELECT tok, CAST(SUM(ctl) AS BIGINT) AS ct FROM ctl GROUP BY tok),
        |cl AS (SELECT l, CAST(SUM(ctl) AS BIGINT) AS cl FROM ctl GROUP BY l),
        |nt AS (SELECT CAST(SUM(ctl) AS BIGINT) AS nn FROM ctl),
        |grid AS (SELECT ct.tok, cl.l, ct.ct, cl.cl,
        |           CAST(COALESCE(x.ctl, 0) AS BIGINT) AS ctl, nt.nn
        |         FROM ct CROSS JOIN cl
        |         LEFT JOIN ctl x ON x.tok = ct.tok AND x.l = cl.l, nt),
        |mi AS (SELECT tok, MAX(ct) AS n, ROUND(SUM(
        |    CASE WHEN ctl > 0 THEN (CAST(ctl AS DOUBLE) / nn)
        |           * ln(CAST(ctl * nn AS DOUBLE) / (ct * cl)) ELSE 0.0 END
        |  + CASE WHEN cl - ctl > 0 THEN (CAST(cl - ctl AS DOUBLE) / nn)
        |           * ln(CAST((cl - ctl) * nn AS DOUBLE) / ((nn - ct) * cl))
        |    ELSE 0.0 END), 4) AS mi
        |  FROM grid GROUP BY tok)
        |SELECT tok, n, mi FROM mi ORDER BY mi DESC, tok LIMIT 20""".stripMargin,

    // exact integer rank cuts: drop lowest/highest (n*10) div 100 rows
    "ext_trimmed_mean" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |k AS (SELECT event_type, value, n, (n * 10) // 100 AS cut FROM r
        |      WHERE rn > (n * 10) // 100 AND rn <= n - (n * 10) // 100)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n, COUNT(*) AS n_kept,
        |  ROUND(AVG(value), 4) AS tmean
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,

    // char-bigram entropy: H = ln n - (sum c*ln c)/n — ln only sees
    // exact integer counts (the ext_doremi form)
    "ext_char_entropy" ->
      """WITH bg AS (
        |  SELECT doc_id, substr(text, CAST(i AS INT), 2) AS bg, COUNT(*) AS c
        |  FROM documents, unnest(range(1, len(text))) AS t(i)
        |  WHERE len(text) >= 2
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |  COUNT(*) AS n_distinct,
        |  ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) AS entropy
        |FROM bg GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // exact interpolating median over the trailing 10-row frame — the
    // quantile_cont/percentile pairing, frame-bounded
    "ext_rolling_median" ->
      """SELECT event_id, user_id, ROUND(value, 4) AS value,
        |  ROUND(quantile_cont(value, 0.5) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4) AS rolling_median
        |FROM events ORDER BY event_id""".stripMargin,

    // stage-advance latency of the view->click->purchase funnel;
    // integer-µs latencies, interpolating percentile (quantile_cont =
    // Spark's exact percentile, the ext_percentiles pairing)
    "ext_funnel_latency" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id),
        |l AS (
        |  SELECT '1:view->click' AS pair,
        |    (epoch_us(s2.t) - epoch_us(s1.t)) / 1000000.0 AS lat
        |  FROM s2 JOIN s1 ON s2.user_id = s1.user_id
        |  UNION ALL
        |  SELECT '2:click->purchase' AS pair,
        |    (epoch_us(s3.t) - epoch_us(s2.t)) / 1000000.0 AS lat
        |  FROM s3 JOIN s2 ON s3.user_id = s2.user_id)
        |SELECT pair, COUNT(*) AS n,
        |  ROUND(quantile_cont(lat, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(lat, 0.9), 4) AS p90
        |FROM l GROUP BY pair ORDER BY pair""".stripMargin,

    // (user, type) bipartite projection: types sharing users, Jaccard
    // affinity from integer counts only
    "ext_type_cooccur" ->
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
        |sz AS (SELECT t, COUNT(*) AS n FROM ut GROUP BY t),
        |b AS (SELECT a.t AS type_a, c.t AS type_b, COUNT(*) AS n_users
        |      FROM ut a JOIN ut c ON a.u = c.u AND a.t < c.t
        |      GROUP BY 1, 2)
        |SELECT b.type_a, b.type_b, b.n_users,
        |  ROUND(CAST(b.n_users AS DOUBLE) / (sa.n + sb.n - b.n_users), 4) AS affinity
        |FROM b JOIN sz sa ON sa.t = b.type_a JOIN sz sb ON sb.t = b.type_b
        |ORDER BY b.type_a, b.type_b""".stripMargin,

    // banding-quality eval: LSH candidates vs exact Jaccard >= 0.5 truth
    // (integer membership), TP/FP/FN + precision/recall as one row
    "ext_dedup_eval" ->
      s"""WITH $minhashBandsCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |         FROM bands l JOIN bands r
         |           ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
         |dsh AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM dsh a JOIN dsh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b
         |          FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |                     JOIN sizes sb ON sb.doc_id = doc_b
         |          WHERE i * 10 >= 5 * (sa.n + sb.n - i)),
         |c AS (SELECT COUNT(*) AS n_cand FROM cand),
         |t AS (SELECT COUNT(*) AS n_truth FROM truth),
         |x AS (SELECT COUNT(*) AS tp FROM cand JOIN truth USING (doc_a, doc_b))
         |SELECT c.n_cand, t.n_truth, x.tp,
         |  c.n_cand - x.tp AS fp, t.n_truth - x.tp AS fn,
         |  CASE WHEN c.n_cand = 0 THEN NULL
         |       ELSE ROUND(CAST(x.tp AS DOUBLE) / c.n_cand, 4) END AS precision,
         |  CASE WHEN t.n_truth = 0 THEN NULL
         |       ELSE ROUND(CAST(x.tp AS DOUBLE) / t.n_truth, 4) END AS recall
         |FROM c, t, x""".stripMargin,

    // each (user, active hour) covers the next 24 result hours (grid
    // capped at the corpus's last hour); distinct users per result hour
    "ext_sliding_active" ->
      """WITH uh AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events),
        |b AS (SELECT MAX(date_trunc('hour', ts)) AS hmax FROM events),
        |x AS (SELECT user_id,
        |  unnest(generate_series(h, least(h + INTERVAL 23 HOUR, b.hmax),
        |         INTERVAL 1 HOUR)) AS hh
        |  FROM uh, b)
        |SELECT hh, COUNT(DISTINCT user_id) AS n_active_24h
        |FROM x GROUP BY hh ORDER BY hh""".stripMargin,

    // every event lands in exactly two epoch-aligned 1h/30m windows
    "ext_stream_sliding" ->
      """WITH e AS (SELECT user_id, value, epoch_us(ts) AS t FROM events),
        |wx AS (SELECT user_id, value,
        |  unnest([(t // 1800000000) * 1800000000,
        |          (t // 1800000000) * 1800000000 - 1800000000]) AS ws FROM e)
        |SELECT make_timestamp(ws) AS w, user_id, ROUND(AVG(value), 4) AS avg_value
        |FROM wx GROUP BY ws, user_id ORDER BY w, user_id""".stripMargin,

    // T5 span corruption: block b of doc d masks iff
    // md5(d:b)[0,4) % 100 < 10 (exact 10% rate, the maskPct-general
    // predicate); a masked block collapses to ONE numbered sentinel
    // (N = 0-based masked-block ordinal). The window's inclusive
    // running count at a block's first token is N+1, hence sent-1.
    "ext_span_corrupt" ->
      s"""WITH $toksCte,
         |pos AS (
         |  SELECT doc_id, CAST(i - 1 AS INT) AS i, ts[CAST(i AS INT)] AS tok,
         |    CAST((i - 1) // 3 AS INT) AS blk
         |  FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)
         |),
         |m AS (SELECT doc_id, i, tok, blk,
         |  (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
         |     CAST(blk AS VARCHAR)), 1, 4) AS BIGINT) % 100 < 10) AS msk
         |  FROM pos),
         |r AS (SELECT doc_id, i, tok, msk,
         |  SUM(CASE WHEN msk AND i % 3 = 0 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY i) AS sent
         |  FROM m),
         |kept AS (SELECT doc_id, i,
         |  CASE WHEN NOT msk THEN tok
         |       ELSE '<extra_id_' || CAST(sent - 1 AS VARCHAR) || '>' END AS out
         |  FROM r WHERE NOT msk OR i % 3 = 0),
         |agg AS (SELECT doc_id,
         |  CAST(SUM(CASE WHEN msk AND i % 3 = 0 THEN 1 ELSE 0 END) AS INT) AS n_spans,
         |  CAST(SUM(CASE WHEN msk THEN 1 ELSE 0 END) AS INT) AS n_masked
         |  FROM m GROUP BY doc_id),
         |txt AS (SELECT doc_id, string_agg(out, ' ' ORDER BY i) AS corrupted
         |        FROM kept GROUP BY doc_id)
         |SELECT a.doc_id, COALESCE(t.corrupted, '') AS corrupted,
         |  a.n_spans, a.n_masked
         |FROM agg a LEFT JOIN txt t USING (doc_id)
         |ORDER BY a.doc_id""".stripMargin,

    // grouped ES sampling: same md5-uniform priority as
    // ext_priority_sample, top-5 per language
    "ext_group_sample" ->
      """WITH s AS (SELECT lang AS stratum, doc_id,
        |  pow((CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) + 0.5)
        |        / 4294967296.0,
        |      1.0 / (((n_chars % 100) + 1) / 100.0)) AS k0
        |  FROM documents),
        |r AS (SELECT stratum, doc_id, k0,
        |      ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY k0 DESC, doc_id) AS r
        |      FROM s)
        |SELECT stratum, doc_id, ROUND(k0, 4) AS es_key FROM r WHERE r <= 5
        |ORDER BY stratum, doc_id""".stripMargin,

    // the ext_scd2 history probed 3 days after each order date:
    // valid_from <= t < valid_to (open tail NULL), inner join
    "ext_scd2_asof" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |    LAG(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders
        |),
        |sr AS (SELECT * FROM r WHERE prev IS NULL OR prev <> o_orderstatus),
        |hist AS (SELECT o_custkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY rn) AS run_idx,
        |  o_orderstatus,
        |  o_orderdate AS valid_from,
        |  LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY rn) AS valid_to
        |  FROM sr),
        |probes AS (SELECT o_orderkey AS probe_id, o_custkey,
        |  o_orderdate + INTERVAL 3 DAY AS pts FROM orders)
        |SELECT p.probe_id, p.o_custkey, p.pts, h.o_orderstatus, h.run_idx
        |FROM probes p JOIN hist h ON p.o_custkey = h.o_custkey
        |WHERE h.valid_from <= p.pts AND (h.valid_to IS NULL OR p.pts < h.valid_to)
        |ORDER BY p.probe_id""".stripMargin,

    // the stream-static enrichment must emit exactly the batch left join
    "ext_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_nationkey, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,

    // dedup-rate-vs-threshold curve over the shared-shingle pair chain;
    // membership decided by 10*inter >= t10*union — integer-exact
    "ext_jaccard_curve" ->
      s"""WITH $toksCte, $sh3Cte,
         |dsh AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM dsh a JOIN dsh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |j AS (SELECT i, sa.n + sb.n - i AS u
         |      FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |                 JOIN sizes sb ON sb.doc_id = doc_b),
         |th AS (SELECT unnest([5, 6, 7, 8, 9]) AS t10)
         |SELECT th.t10, CAST(COALESCE(SUM(
         |    CASE WHEN j.i * 10 >= th.t10 * j.u THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs
         |FROM th LEFT JOIN j ON TRUE
         |GROUP BY th.t10 ORDER BY th.t10""".stripMargin,

    // per-source pieces-per-token under the shared WordPiece table;
    // integer sums + one exact division
    "ext_tokenizer_fertility" ->
      s"""WITH $wordpieceCtes,
         |enc AS (
         |  SELECT tok, tok AS rest, CAST('' AS VARCHAR) AS acc, 0 AS np FROM wf
         |  UNION ALL
         |  SELECT e.tok, substr(e.rest, len(v.piece) + 1) AS rest,
         |    CASE WHEN e.acc = '' THEN v.piece
         |         ELSE e.acc || ' ##' || v.piece END AS acc,
         |    e.np + 1 AS np
         |  FROM enc e JOIN vocab v
         |    ON v.cont = CASE WHEN e.np = 0 THEN 0 ELSE 1 END
         |   AND v.piece = substr(e.rest, 1, len(v.piece))
         |  WHERE e.rest <> ''
         |    AND NOT EXISTS (SELECT 1 FROM vocab v2
         |      WHERE v2.cont = v.cont AND len(v2.piece) > len(v.piece)
         |        AND v2.piece = substr(e.rest, 1, len(v2.piece)))
         |),
         |npt AS (SELECT tok, np AS n_pieces FROM enc WHERE rest = ''),
         |so AS (SELECT source,
         |  unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
         |  FROM documents)
         |SELECT so.source, COUNT(*) AS n_toks,
         |  CAST(SUM(npt.n_pieces) AS BIGINT) AS n_pieces,
         |  ROUND(CAST(SUM(npt.n_pieces) AS DOUBLE) / COUNT(*), 4) AS fertility
         |FROM so JOIN npt USING (tok)
         |GROUP BY so.source ORDER BY so.source""".stripMargin,

    // losses from the V·S-bounded count table (ln only sees exact
    // integers); exponential tilt + the mixture_alloc Hamilton scheme
    "ext_doremi" ->
      """WITH occ AS (
        |  SELECT source AS stratum,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |bow AS (SELECT stratum, tok, COUNT(*) AS cs FROM occ GROUP BY 1, 2),
        |cnt AS (SELECT tok, CAST(SUM(cs) AS BIGINT) AS c FROM bow GROUP BY tok),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cnt),
        |dom AS (SELECT stratum, CAST(SUM(cs) AS BIGINT) AS n_toks,
        |        ln(n.nn) - SUM(cs * ln(cnt.c)) / SUM(cs) AS loss
        |        FROM bow JOIN cnt USING (tok), n GROUP BY stratum, n.nn),
        |blend AS (SELECT ln(n.nn) - SUM(cs * ln(cnt.c)) / n.nn AS l0
        |          FROM bow JOIN cnt USING (tok), n GROUP BY n.nn),
        |ex AS (SELECT stratum, n_toks, loss,
        |       GREATEST(loss - l0, 0.0) AS excess FROM dom, blend),
        |z AS (SELECT SUM(exp(2.0 * excess)) AS z FROM ex),
        |sc AS (SELECT stratum, n_toks, loss, excess,
        |       exp(2.0 * excess) / z.z AS share,
        |       100000 * (exp(2.0 * excess) / z.z) + 0.000000001 AS bp
        |       FROM ex, z),
        |fl AS (SELECT stratum, n_toks, loss, excess, share,
        |       CAST(floor(bp) AS BIGINT) AS base, bp - floor(bp) AS rem FROM sc),
        |s AS (SELECT CAST(SUM(base) AS BIGINT) AS sb FROM fl),
        |rk AS (SELECT stratum, row_number() OVER (ORDER BY rem DESC, stratum) AS r
        |       FROM fl)
        |SELECT fl.stratum, fl.n_toks, ROUND(fl.loss, 4) AS loss,
        |  ROUND(fl.excess, 4) AS excess, ROUND(fl.share, 4) AS share,
        |  fl.base + CASE WHEN rk.r <= 100000 - s.sb THEN 1 ELSE 0 END AS alloc
        |FROM fl JOIN rk USING (stratum), s ORDER BY fl.stratum""".stripMargin,

    // same tf-idf chain as ext_tfidf; ranks on ROUND(tfidf,4) + token
    // tie-break (raw-double ranks can flip across libms on mathematical
    // ties — see TextAnalysis.keywords)
    "ext_keywords" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |bow AS (SELECT doc_id, tok, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
         |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM dt GROUP BY 1),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dt),
         |ti AS (SELECT b.doc_id, b.tok,
         |  ROUND(b.tf * ln(CAST(n.n AS DOUBLE) / d.df), 4) AS tfidf
         |  FROM bow b JOIN df d USING (tok), n),
         |rkd AS (SELECT doc_id, tok, tfidf,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rk
         |  FROM ti)
         |SELECT doc_id, rk, tok, tfidf FROM rkd WHERE rk <= 3
         |ORDER BY doc_id, rk""".stripMargin,

    "ext_syllables" ->
      s"""WITH $toksCte,
         |sy AS (SELECT doc_id, len(ts) AS n_toks,
         |  CAST(COALESCE(list_sum(list_transform(ts,
         |    t -> len(regexp_extract_all(t, '[aeiou]+')))), 0) AS BIGINT) AS n_syllables,
         |  len(list_filter(ts,
         |    t -> len(regexp_extract_all(t, '[aeiou]+')) >= 3)) AS n_complex
         |  FROM toks)
         |SELECT doc_id, n_toks, n_syllables, n_complex,
         |  CASE WHEN n_toks = 0 THEN NULL
         |       ELSE ROUND(CAST(n_syllables AS DOUBLE) / n_toks, 4) END AS avg_syllables
         |FROM sy ORDER BY doc_id""".stripMargin,

    // Δt in exact integer µs via LEAD; keys with zero span are excluded
    // BEFORE the division (0/0: NaN in Spark, NULL here)
    "ext_twa" ->
      """WITH e AS (
        |  SELECT user_id, value,
        |    epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |      - epoch_us(ts) AS dt
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n,
        |  ROUND(SUM(value * dt) / SUM(dt), 4) AS twa
        |FROM e GROUP BY user_id
        |HAVING COALESCE(SUM(dt), 0) > 0
        |ORDER BY user_id""".stripMargin,

    // gaps-and-islands over [t, t+300s) intervals: island opens where t
    // exceeds the running max end of all PRIOR intervals (sentinel t-1
    // for the first row); everything integer µs
    "ext_interval_merge" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
        |o AS (SELECT user_id, t, event_id,
        |  CASE WHEN t > COALESCE(MAX(t + 300000000) OVER (
        |      PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), t - 1)
        |    THEN 1 ELSE 0 END AS op
        |  FROM e),
        |i AS (SELECT user_id, t,
        |  SUM(op) OVER (PARTITION BY user_id ORDER BY t, event_id) AS island
        |  FROM o),
        |g AS (SELECT user_id, island, COUNT(*) AS n,
        |  MAX(t) + 300000000 - MIN(t) AS cov FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
        |  COUNT(*) AS n_islands, CAST(SUM(cov) AS BIGINT) AS coverage_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ext_standardize" ->
      s"""WITH $embCte,
         |v AS (SELECT vec_id, CAST(t.j - 1 AS INT) AS pos, e[CAST(t.j AS INT)] AS v
         |      FROM e, unnest(range(1, len(e) + 1)) AS t(j)),
         |st AS (SELECT pos, AVG(v) AS mu, stddev_pop(v) AS sd FROM v GROUP BY pos)
         |SELECT v.vec_id, v.pos,
         |  CASE WHEN st.sd = 0.0 THEN 0.0
         |       ELSE ROUND((v.v - st.mu) / st.sd, 4) + 0.0 END AS z
         |FROM v JOIN st USING (pos) ORDER BY vec_id, pos""".stripMargin,

    // difficulty = mean corpus token frequency (exact long/long division,
    // no libm) — the global easy→hard order is bit-identical across
    // engines, so NTILE/ROW_NUMBER replicate exactNtile's two-pass ranks
    "ext_curriculum" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |f AS (SELECT tok, COUNT(*) AS c FROM dt GROUP BY tok),
         |m AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mf
         |      FROM dt JOIN f USING (tok) GROUP BY doc_id)
         |SELECT doc_id, ROUND(mf, 4) AS mean_tok_freq,
         |  CAST(NTILE(10) OVER (ORDER BY -mf, doc_id) AS INT) AS decile,
         |  ROW_NUMBER() OVER (ORDER BY -mf, doc_id) - 1 AS crank
         |FROM m ORDER BY doc_id""".stripMargin,

    // dedup of the doubled feed must reproduce the original exactly
    "ext_stream_dedup" ->
      """SELECT event_id, user_id, event_type, ROUND(value, 4) AS value
        |FROM events ORDER BY event_id""".stripMargin,

    "ext_hash_split" ->
      """SELECT doc_id,
        |  CAST(CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 100 AS INT) AS bucket,
        |  CASE WHEN CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 100 < 80 THEN 'train'
        |       WHEN CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_asof_join" ->
      """WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts, event_id AS pid, value FROM events WHERE event_type = 'purchase')
        |SELECT v.event_id, p.pid AS purchase_id, p.value AS purchase_value
        |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts
        |ORDER BY v.event_id""".stripMargin,

    "ext_interval_join" ->
      """WITH v AS (SELECT event_id AS view_id, user_id, ts AS vts FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS pts FROM events WHERE event_type = 'purchase')
        |SELECT v.view_id, p.purchase_id
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND p.pts >= v.vts - INTERVAL 3600 SECONDS AND p.pts <= v.vts
        |ORDER BY v.view_id, p.purchase_id""".stripMargin,

    // nearest-in-time match: min |dt| within 1h, equidistant ties to the
    // backward (leak-safe) side, right side pre-deduped per (user, ts)
    "ext_nearest_join" ->
      """WITH v AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
        |), p AS (
        |  SELECT user_id, ts, MIN(event_id) AS pid FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1, 2
        |), j AS (
        |  SELECT v.event_id, p.pid,
        |    abs(epoch_us(v.ts) - epoch_us(p.ts)) AS dt_us,
        |    CASE WHEN epoch_us(p.ts) <= epoch_us(v.ts) THEN 0 ELSE 1 END AS dir
        |  FROM v JOIN p ON v.user_id = p.user_id
        |    AND abs(epoch_us(v.ts) - epoch_us(p.ts)) <= 3600000000
        |), pick AS (
        |  SELECT event_id, pid, dt_us,
        |    ROW_NUMBER() OVER (PARTITION BY event_id
        |                       ORDER BY dt_us, dir, pid) AS rn
        |  FROM j
        |)
        |SELECT event_id, pid, dt_us FROM pick WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    "ext_cohort_retention" ->
      """WITH wk AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS _wk FROM events
        |), c AS (
        |  SELECT user_id, MIN(_wk) AS cohort_week FROM wk GROUP BY user_id
        |)
        |SELECT cohort_week,
        |  CAST((_wk - cohort_week) / 7 AS BIGINT) AS week_offset,
        |  COUNT(*) AS n_users
        |FROM (SELECT DISTINCT wk.user_id, c.cohort_week, wk._wk
        |      FROM wk JOIN c USING (user_id))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ext_transitions" ->
      """WITH x AS (
        |  SELECT event_type AS to_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |  FROM events
        |), pr AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM x
        |  WHERE from_type IS NOT NULL GROUP BY 1, 2
        |), t AS (SELECT from_type, SUM(n) AS tot FROM pr GROUP BY 1)
        |SELECT pr.from_type, pr.to_type, pr.n, ROUND(pr.n / t.tot, 4) AS p
        |FROM pr JOIN t USING (from_type) ORDER BY 1, 2""".stripMargin,

    // H(to|from) per from-state + the p(f)-weighted __all__ rate,
    // from UNROUNDED per-from entropies
    "ext_transition_entropy" ->
      """WITH x AS (
        |  SELECT event_type AS to_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |  FROM events
        |), pr AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM x
        |  WHERE from_type IS NOT NULL GROUP BY 1, 2
        |), t AS (SELECT from_type, SUM(n) AS tf FROM pr GROUP BY 1),
        |h AS (
        |  SELECT pr.from_type, MIN(t.tf) AS n,
        |    -SUM((pr.n / CAST(t.tf AS DOUBLE)) * ln(pr.n / CAST(t.tf AS DOUBLE))) AS h
        |  FROM pr JOIN t USING (from_type) GROUP BY 1
        |)
        |SELECT from_type, CAST(n AS BIGINT) AS n, ROUND(h, 4) AS h FROM h
        |UNION ALL
        |SELECT '__all__', CAST(SUM(n) AS BIGINT), ROUND(SUM(n * h) / SUM(n), 4) FROM h
        |ORDER BY from_type""".stripMargin,

    // Gini: 2*sum(i*v)/(n*sum(v)) - (n+1)/n over ascending ranks
    "ext_gini" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY value, event_id) AS i
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(2 * SUM(i * value) / (COUNT(*) * SUM(value))
        |        - CAST(COUNT(*) + 1 AS DOUBLE) / COUNT(*), 4) AS gini
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // hourly Fano factor from raw moments (integer-exact both engines)
    "ext_fano" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS _h, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, COUNT(*) AS n_hours,
        |    CAST(SUM(c) AS DOUBLE) AS s, CAST(SUM(c * c) AS DOUBLE) AS q
        |  FROM h GROUP BY 1
        |)
        |SELECT event_type, n_hours,
        |  ROUND(((q - s * s / n_hours) / n_hours) / (s / n_hours), 4) AS fano
        |FROM m ORDER BY 1""".stripMargin,

    // top length-3 event-type paths across user timelines
    "ext_event_paths" ->
      """WITH x AS (
        |  SELECT event_type,
        |    lag(event_type, 1) OVER w AS p1,
        |    lag(event_type, 2) OVER w AS p2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT p2 || '->' || p1 || '->' || event_type AS path, COUNT(*) AS n
        |FROM x WHERE p2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,

    // half-life-24h decayed value anchored at each user's last event
    "ext_decayed_value" ->
      """WITH a AS (
        |  SELECT user_id, ts, value,
        |    MAX(ts) OVER (PARTITION BY user_id) AS anchor
        |  FROM events
        |)
        |SELECT user_id, COUNT(*) AS n,
        |  ROUND(SUM(value * exp(-(ln(2) / 86400000000.0) *
        |    (epoch_us(anchor) - epoch_us(ts)))), 4) AS decayed
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,

    // hour-of-day chi-square vs uniform over the full 24-cell grid
    // (empty hours contribute their expected mass)
    "ext_hod_chi2" ->
      """WITH obs AS (
        |  SELECT event_type, EXTRACT(hour FROM ts) AS hod, COUNT(*) AS o
        |  FROM events GROUP BY 1, 2
        |), grid AS (
        |  SELECT DISTINCT e.event_type, g.h AS hod
        |  FROM events e, generate_series(0, 23) AS g(h)
        |), f AS (
        |  SELECT grid.event_type, grid.hod, COALESCE(obs.o, 0) AS o
        |  FROM grid LEFT JOIN obs USING (event_type, hod)
        |), tot AS (SELECT event_type, SUM(o) AS n FROM f GROUP BY 1)
        |SELECT f.event_type, CAST(t.n AS BIGINT) AS n,
        |  ROUND(SUM(pow(f.o - t.n / 24.0, 2) / (t.n / 24.0)), 4) AS chi2
        |FROM f JOIN tot t USING (event_type)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // equi-width histogram: both engines evaluate the identical float
    // bucketing expression, so bin assignment matches exactly
    "ext_histogram" ->
      """WITH b AS (
        |  SELECT event_type, MIN(value) AS blo, MAX(value) AS bhi
        |  FROM events GROUP BY 1
        |), z AS (
        |  SELECT e.event_type,
        |    CASE WHEN b.bhi = b.blo THEN CAST(0 AS BIGINT)
        |         ELSE LEAST(CAST(9 AS BIGINT),
        |           CAST(FLOOR((e.value - b.blo) / ((b.bhi - b.blo) / 10)) AS BIGINT))
        |    END AS bin,
        |    b.blo, (b.bhi - b.blo) / 10 AS w
        |  FROM events e JOIN b USING (event_type)
        |)
        |SELECT event_type, bin, COUNT(*) AS n,
        |  ROUND(MIN(blo) + MIN(w) * bin, 4) AS lo,
        |  ROUND(MIN(blo) + MIN(w) * (bin + 1), 4) AS hi
        |FROM z GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // RFM quintiles: bucket = 1 + count(thresholds below), never ntile;
    // m rounded BEFORE bucketing so both engines bucket the same number
    "ext_rfm" ->
      """WITH per AS (
        |  SELECT user_id, MAX(ts) AS _last, COUNT(*) AS f,
        |    ROUND(SUM(value), 4) AS m
        |  FROM events GROUP BY user_id
        |), anch AS (
        |  SELECT user_id,
        |    epoch_us((SELECT MAX(_last) FROM per)) - epoch_us(_last) AS r_us,
        |    f, m
        |  FROM per
        |), q AS (
        |  SELECT quantile_cont(r_us, [0.2, 0.4, 0.6, 0.8]) AS qr,
        |    quantile_cont(f, [0.2, 0.4, 0.6, 0.8]) AS qf,
        |    quantile_cont(m, [0.2, 0.4, 0.6, 0.8]) AS qm
        |  FROM anch
        |)
        |SELECT user_id, r_us, f, m,
        |  CAST(1 + (r_us > qr[1])::INT + (r_us > qr[2])::INT
        |         + (r_us > qr[3])::INT + (r_us > qr[4])::INT AS BIGINT) AS r_q,
        |  CAST(1 + (f > qf[1])::INT + (f > qf[2])::INT
        |         + (f > qf[3])::INT + (f > qf[4])::INT AS BIGINT) AS f_q,
        |  CAST(1 + (m > qm[1])::INT + (m > qm[2])::INT
        |         + (m > qm[3])::INT + (m > qm[4])::INT AS BIGINT) AS m_q
        |FROM anch, q ORDER BY user_id""".stripMargin,

    "ext_mad_outliers" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS _med
        |  FROM events GROUP BY 1
        |), dv AS (
        |  SELECT e.event_type, e.value, m._med
        |  FROM events e JOIN m USING (event_type)
        |), a AS (
        |  SELECT event_type, quantile_cont(abs(value - _med), 0.5) AS _mad
        |  FROM dv GROUP BY 1
        |)
        |SELECT dv.event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN abs(dv.value - dv._med) > 3 * 1.4826 * a._mad
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  ROUND(MIN(dv._med), 4) AS med, ROUND(MIN(a._mad), 4) AS mad
        |FROM dv JOIN a USING (event_type) GROUP BY 1 ORDER BY 1""".stripMargin,

    // the O(n²)-materialization form the Spark side never builds: every
    // suffix as a string, dense-ranked under binary order
    "ext_suffix_array" ->
      s"""WITH p AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, length(text))) AS pos
        |  FROM documents
        |  WHERE doc_id % $suffixModSql = 0 AND length(text) > 0
        |)
        |SELECT doc_id, pos,
        |  CAST(dense_rank() OVER (ORDER BY substr(text, CAST(pos AS INT))) AS BIGINT) - 1 AS srank
        |FROM p ORDER BY doc_id, pos""".stripMargin,

    // Welch t of each source vs the rest on doc length; both engines use
    // the SAME raw-moment formulas (sums of integer-valued doubles are
    // exact, so the floating-point path is identical)
    "ext_welch" ->
      """WITH g AS (
        |  SELECT source AS grp, COUNT(*) AS n1,
        |    SUM(CAST(n_chars AS DOUBLE)) AS s1,
        |    SUM(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS q1
        |  FROM documents GROUP BY 1
        |), tt AS (
        |  SELECT COUNT(*) AS nt, SUM(CAST(n_chars AS DOUBLE)) AS st,
        |    SUM(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS qt
        |  FROM documents
        |), z AS (
        |  SELECT grp, n1, s1 / n1 AS m1,
        |    (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
        |    nt - n1 AS n2,
        |    (st - s1) / (nt - n1) AS m2,
        |    ((qt - q1) - (st - s1) * (st - s1) / (nt - n1)) / (nt - n1 - 1) AS v2
        |  FROM g, tt
        |)
        |SELECT grp, n1 AS n, ROUND(m1, 4) AS mean,
        |  ROUND((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t,
        |  ROUND(pow(v1 / n1 + v2 / n2, 2) /
        |        (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)), 4) AS df
        |FROM z ORDER BY grp""".stripMargin,

    // UMass coherence of each source's top-10 doc-frequency tokens:
    // C = sum over rank-ordered pairs of ln((D(wi,wj)+1)/D(wj))
    "ext_coherence" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, grp, tok FROM (
        |    SELECT doc_id, source AS grp,
        |      unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |    FROM documents)
        |), dfv AS (
        |  SELECT grp, tok, COUNT(*) AS df FROM dt GROUP BY 1, 2
        |), top AS (
        |  SELECT * FROM (
        |    SELECT grp, tok, df,
        |      ROW_NUMBER() OVER (PARTITION BY grp ORDER BY df DESC, tok) AS rk
        |    FROM dfv) WHERE rk <= 10
        |), posts AS (
        |  SELECT dt.grp, dt.doc_id, top.tok, top.rk
        |  FROM dt JOIN top ON dt.grp = top.grp AND dt.tok = top.tok
        |), co AS (
        |  SELECT a.grp, a.tok AS wi, b.tok AS wj, COUNT(*) AS c
        |  FROM posts a JOIN posts b
        |    ON a.grp = b.grp AND a.doc_id = b.doc_id AND a.rk < b.rk
        |  GROUP BY 1, 2, 3
        |), grid AS (
        |  SELECT a.grp, a.tok AS wi, b.tok AS wj, b.df AS dfj
        |  FROM top a JOIN top b ON a.grp = b.grp AND a.rk < b.rk
        |)
        |SELECT g.grp, COUNT(*) AS n_pairs,
        |  ROUND(SUM(ln((COALESCE(c.c, 0) + 1) / CAST(g.dfj AS DOUBLE))), 4) AS coherence
        |FROM grid g LEFT JOIN co c
        |  ON g.grp = c.grp AND g.wi = c.wi AND g.wj = c.wj
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Heaps' law: V(n) ~ K n^beta from first-seen token positions at 10
    // evenly spaced checkpoints in doc_id order
    "ext_heaps" ->
      """WITH tl AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id, unnest(generate_series(1, len(ts))) AS idx, ts FROM tl
        |), t2 AS (
        |  SELECT doc_id, idx, ts[CAST(idx AS INT)] AS tok FROM tk
        |), lens AS (SELECT doc_id, COUNT(*) AS len FROM t2 GROUP BY 1),
        |offs AS (
        |  SELECT doc_id,
        |    SUM(len) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - len AS off
        |  FROM lens
        |), fs AS (
        |  SELECT t2.tok, MIN(o.off + t2.idx) AS fp
        |  FROM t2 JOIN offs o USING (doc_id) GROUP BY 1
        |), nn AS (SELECT SUM(len) AS n FROM lens),
        |grid AS (
        |  SELECT g.i, CAST(FLOOR(nn.n * g.i / 10.0) AS BIGINT) AS c
        |  FROM generate_series(1, 10) AS g(i), nn
        |), curve AS (
        |  SELECT grid.i, grid.c, COUNT(*) AS v
        |  FROM fs JOIN grid ON fs.fp <= grid.c GROUP BY 1, 2
        |), arr AS (
        |  -- fixed-order moment fold (mirrors the engine's in-row
        |  -- left-to-right aggregate over the i-sorted point array):
        |  -- parallel covar_pop/var_pop accumulate irrational logs in
        |  -- thread-dependent order and can flip the 4th decimal
        |  SELECT list(v ORDER BY i) AS vs, list(c ORDER BY i) AS cs,
        |         MAX(v) AS v_types
        |  FROM curve
        |), mo AS (
        |  SELECT v_types,
        |    list_reduce(list_transform(cs, c -> ln(CAST(c AS DOUBLE))),
        |      (a, x) -> a + x) AS sx,
        |    list_reduce(list_transform(vs, v -> ln(CAST(v AS DOUBLE))),
        |      (a, x) -> a + x) AS sy,
        |    list_reduce(list_transform(list_zip(vs, cs),
        |      s -> ln(CAST(s[1] AS DOUBLE)) * ln(CAST(s[2] AS DOUBLE))),
        |      (a, x) -> a + x) AS sxy,
        |    list_reduce(list_transform(cs,
        |      c -> ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE))),
        |      (a, x) -> a + x) AS sxx,
        |    CAST(len(cs) AS DOUBLE) AS m
        |  FROM arr
        |), fit AS (
        |  SELECT v_types, (m*sxy - sx*sy) / (m*sxx - sx*sx) AS b,
        |         sy/m AS my, sx/m AS mx
        |  FROM mo
        |)
        |SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_tokens, v_types,
        |  ROUND(b, 4) AS beta, ROUND(exp(my - b * mx), 4) AS k
        |FROM fit ORDER BY n_tokens""".stripMargin,

    // Zipf fit: OLS of ln(freq) ~ ln(rank) over the top-100k ranks,
    // moments folded in rank order (fixed-order chain — see ext_heaps)
    "ext_zipf" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents
        |), c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
        |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk FROM c),
        |arr AS (
        |  SELECT (SELECT COUNT(*) FROM r) AS n_types,
        |    list(c ORDER BY rk) AS cs, list(rk ORDER BY rk) AS rks
        |  FROM r WHERE rk <= 100000
        |), mo AS (
        |  SELECT n_types,
        |    list_reduce(list_transform(rks, k -> ln(CAST(k AS DOUBLE))),
        |      (a, x) -> a + x) AS sx,
        |    list_reduce(list_transform(cs, c -> ln(CAST(c AS DOUBLE))),
        |      (a, x) -> a + x) AS sy,
        |    list_reduce(list_transform(list_zip(cs, rks),
        |      s -> ln(CAST(s[1] AS DOUBLE)) * ln(CAST(s[2] AS DOUBLE))),
        |      (a, x) -> a + x) AS sxy,
        |    list_reduce(list_transform(rks,
        |      k -> ln(CAST(k AS DOUBLE)) * ln(CAST(k AS DOUBLE))),
        |      (a, x) -> a + x) AS sxx,
        |    CAST(len(cs) AS DOUBLE) AS m
        |  FROM arr
        |), fit AS (
        |  SELECT n_types, (m*sxy - sx*sy) / (m*sxx - sx*sx) AS s,
        |         sy/m AS my, sx/m AS mx
        |  FROM mo
        |)
        |SELECT n_types, ROUND(s, 4) AS slope,
        |  ROUND(my - s * mx, 4) AS intercept
        |FROM fit ORDER BY n_types""".stripMargin,

    // sorted-neighborhood linkage: rank by sort key, score only pairs
    // within 4 ranks (the window join the Spark side does bucketed)
    "ext_sorted_neighborhood" ->
      """WITH k AS (
        |  SELECT doc_id, substr(text, 1, 24) AS k, substr(text, 1, 64) AS pre
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, pre,
        |    ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1 AS rk FROM k
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  FLOOR(jaro_winkler_similarity(a.pre, b.pre) * 10000.0 + 0.5)
        |    / 10000.0 AS jw
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 4
        |WHERE jaro_winkler_similarity(a.pre, b.pre) >= 0.9
        |ORDER BY jw DESC, doc_a, doc_b""".stripMargin,

    // SA application: a substring occurring twice is a common prefix of
    // two rank-adjacent suffixes, so top repeats = max LCP over dense-
    // rank neighbors + whole-suffix duplicates (rank classes of size ≥2)
    "ext_longest_repeat" ->
      s"""WITH p AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, length(text))) AS pos
        |  FROM documents WHERE doc_id % $suffixModSql = 0 AND length(text) > 0
        |), s AS (
        |  SELECT doc_id, pos, substr(text, CAST(pos AS INT)) AS sfx FROM p
        |), r AS (
        |  SELECT doc_id, pos, sfx,
        |    dense_rank() OVER (ORDER BY sfx) - 1 AS rk FROM s
        |), cls AS (
        |  SELECT doc_id, pos, sfx, rk,
        |    COUNT(*) OVER (PARTITION BY rk) AS cnt,
        |    ROW_NUMBER() OVER (PARTITION BY rk ORDER BY doc_id, pos) AS rn
        |  FROM r
        |), reps AS (
        |  SELECT rk, doc_id, pos, sfx, cnt FROM cls WHERE rn = 1
        |), adj AS (
        |  SELECT a.doc_id, a.pos,
        |    coalesce(list_min(list_filter(list_transform(
        |        range(1, CAST(least(length(a.sfx), length(b.sfx)) AS BIGINT) + 1),
        |        i -> CASE WHEN substr(a.sfx, CAST(i AS INT), 1)
        |                    <> substr(b.sfx, CAST(i AS INT), 1) THEN i END),
        |      x -> x IS NOT NULL)),
        |      least(length(a.sfx), length(b.sfx)) + 1) - 1 AS len
        |  FROM reps a JOIN reps b ON b.rk = a.rk + 1
        |), u AS (
        |  SELECT doc_id, pos, CAST(len AS BIGINT) AS len FROM adj WHERE len > 0
        |  UNION ALL
        |  SELECT doc_id, pos, CAST(length(sfx) AS BIGINT) AS len
        |  FROM reps WHERE cnt >= 2
        |)
        |SELECT doc_id, pos, len FROM u
        |ORDER BY len DESC, doc_id, pos LIMIT 10""".stripMargin,

    "ext_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT s1.user_id,
        |  CASE WHEN s3.user_id IS NOT NULL THEN 3
        |       WHEN s2.user_id IS NOT NULL THEN 2 ELSE 1 END AS stages_reached
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin,

    "ext_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM x
        |)
        |SELECT user_id, session_idx, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,

    // IVF-flat ANN: centroids = vec_id < 16, assign by argmax cosine
    // (tie → low cid), probe the 4 nearest lists per query, exact re-rank
    "ext_ivf_topk" ->
      s"""WITH $embCte,
         |cent AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id < 16),
         |assigned AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT v.vec_id, c.cid, ROW_NUMBER() OVER (
         |      PARTITION BY v.vec_id ORDER BY ${cosRawSql("v.e", "c.ce")} DESC, c.cid) AS arn
         |    FROM e v, cent c
         |  ) WHERE arn = 1
         |),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM e WHERE vec_id < 5),
         |probes AS (
         |  SELECT query_id, cid FROM (
         |    SELECT q.query_id, c.cid, ROW_NUMBER() OVER (
         |      PARTITION BY q.query_id ORDER BY ${cosRawSql("q.qe", "c.ce")} DESC, c.cid) AS prn
         |    FROM q, cent c
         |  ) WHERE prn <= 4
         |),
         |scored AS (
         |  SELECT p.query_id, a.vec_id, ${cosSql("v.e", "qq.qe")} AS cos
         |  FROM probes p
         |  JOIN assigned a ON a.cid = p.cid
         |  JOIN e v ON v.vec_id = a.vec_id
         |  JOIN q qq ON qq.query_id = p.query_id
         |  WHERE a.vec_id <> p.query_id
         |)
         |SELECT query_id, vec_id, cos, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk FROM scored
         |) WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "ext_dedup_canonical" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "ext_bigram_counts" ->
      s"""WITH $toksCte,
         |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
         |         i -> ts[i] || ' ' || ts[i+1])) AS ngram
         |       FROM toks WHERE len(ts) >= 2)
         |SELECT ngram, COUNT(*) AS c FROM bi GROUP BY ngram ORDER BY ngram""".stripMargin,

    "ext_repetition" ->
      s"""WITH $toksCte,
         |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
         |         i -> ts[i] || ' ' || ts[i+1])) AS sh
         |       FROM toks WHERE len(ts) >= 2),
         |bc AS (SELECT doc_id, sh, COUNT(*) AS c FROM bi GROUP BY 1, 2),
         |bt AS (SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 4) AS top_bigram_frac
         |       FROM bc GROUP BY doc_id),
         |dt AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |tk AS (SELECT doc_id, COUNT(*) AS n_toks,
         |         ROUND(COUNT(DISTINCT tok) * 1.0 / COUNT(*), 4) AS distinct_frac
         |       FROM dt GROUP BY doc_id)
         |SELECT tk.doc_id, tk.n_toks, tk.distinct_frac, bt.top_bigram_frac
         |FROM tk LEFT JOIN bt ON tk.doc_id = bt.doc_id
         |ORDER BY tk.doc_id""".stripMargin,

    "ext_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents
        |) WHERE rn <= CEIL(n * 10 / 100.0) ORDER BY doc_id""".stripMargin,

    // the composed clean-corpus pipeline: quality gates → canonical dedup
    // → content-hash split (each stage is itself oracle-checked above)
    "ext_clean_pipeline" ->
      s"""WITH $toksCte,
         |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
         |         i -> ts[i] || ' ' || ts[i+1])) AS sh
         |       FROM toks WHERE len(ts) >= 2),
         |bc AS (SELECT doc_id, sh, COUNT(*) AS c FROM bi GROUP BY 1, 2),
         |bt AS (SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top_bigram_frac
         |       FROM bc GROUP BY doc_id),
         |tk AS (SELECT doc_id, len(ts) AS n_toks,
         |         len(list_filter(ts, t -> list_contains(${stopList("en")}, t))) * 1.0
         |           / len(ts) AS stopword_ratio
         |       FROM toks),
         |passing AS (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d
         |  JOIN tk ON tk.doc_id = d.doc_id
         |  LEFT JOIN bt ON bt.doc_id = d.doc_id
         |  WHERE tk.n_toks >= 10 AND tk.stopword_ratio >= 0.05
         |    AND (bt.top_bigram_frac IS NULL OR bt.top_bigram_frac <= 0.2)
         |),
         |canon AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM passing
         |  ) WHERE rn = 1
         |)
         |SELECT doc_id, lang,
         |  CASE WHEN CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 100 < 80 THEN 'train'
         |       WHEN CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM canon ORDER BY doc_id""".stripMargin,

    "ext_length_deciles" ->
      """SELECT doc_id, n_chars,
        |  NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_bigram_lm" ->
      s"""WITH $toksCte,
         |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
         |         i -> ts[i] || ' ' || ts[i+1])) AS ngram
         |       FROM toks WHERE len(ts) >= 2),
         |bc AS (SELECT string_split(ngram, ' ')[1] AS w1,
         |              string_split(ngram, ' ')[2] AS w2, COUNT(*) AS c
         |       FROM bi GROUP BY 1, 2),
         |tot AS (SELECT w1, SUM(c) AS n1 FROM bc GROUP BY w1)
         |SELECT bc.w1, bc.w2, bc.c, ROUND(bc.c * 1.0 / t.n1, 4) AS p
         |FROM bc JOIN tot t ON bc.w1 = t.w1
         |ORDER BY bc.w1, bc.w2""".stripMargin,

    "ext_contamination" ->
      s"""WITH $toksCte, $sh3Cte,
         |dsh AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh),
         |spl AS (SELECT doc_id,
         |  CASE WHEN CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 100 < 80 THEN 'train'
         |       WHEN CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM documents),
         |tr AS (SELECT DISTINCT s FROM dsh JOIN spl USING (doc_id) WHERE split = 'train'),
         |te AS (SELECT d.doc_id, d.s FROM dsh d JOIN spl USING (doc_id) WHERE split = 'test')
         |SELECT doc_id, COUNT(*) AS shared_ngrams
         |FROM te JOIN tr USING (s)
         |GROUP BY doc_id HAVING COUNT(*) >= 2 ORDER BY doc_id""".stripMargin,

    "ext_pack_sequences" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_toks FROM toks)
         |SELECT doc_id, n_toks,
         |  CAST((SUM(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_toks)
         |       // 2048 AS BIGINT) AS bin
         |FROM t ORDER BY doc_id""".stripMargin,

    "ext_mixture_sample" -> {
      val cases = mixtureWeights
        .map { case (k, v) => s"WHEN lang = '$k' THEN $v" }.mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         |WHERE CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 10000
         |      < (CASE $cases ELSE 0.0 END) * 10000
         |ORDER BY doc_id""".stripMargin
    },

    "ext_mask_tokens" ->
      s"""WITH $toksCte
         |SELECT doc_id, array_to_string(list_transform(range(1, len(ts) + 1),
         |  i -> CASE WHEN CAST('0x' || substr(md5(doc_id::VARCHAR || ':' ||
         |         (i - 1)::VARCHAR || ':' || ts[i]), 1, 4) AS BIGINT) % 10000 < 1500
         |       THEN '<MASK>' ELSE ts[i] END), ' ') AS masked
         |FROM toks WHERE len(ts) > 0 ORDER BY doc_id""".stripMargin,

    // same regexes, same order; duck regexp_replace needs the 'g' flag and
    // counts via len(regexp_extract_all)
    "ext_pii_redact" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '${TextAnalysis.emailRe}')) AS n_email,
         |  len(regexp_extract_all(text, '${TextAnalysis.ipv4Re}')) AS n_ip,
         |  len(regexp_extract_all(text, '${TextAnalysis.phoneRe}')) AS n_phone,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '${TextAnalysis.emailRe}', '<EMAIL>', 'g'),
         |      '${TextAnalysis.ipv4Re}', '<IP>', 'g'),
         |    '${TextAnalysis.phoneRe}', '<PHONE>', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_sentence_dedup" ->
      """WITH s AS (
        |  SELECT doc_id, trim(unnest(string_split_regex(text, '\. '))) AS sent
        |  FROM documents
        |)
        |SELECT md5(sent) AS h, COUNT(*) AS c, COUNT(DISTINCT doc_id) AS n_docs
        |FROM s WHERE length(sent) > 0
        |GROUP BY md5(sent) HAVING COUNT(*) > 1 ORDER BY h""".stripMargin,

    "ext_ngram_novelty" ->
      s"""WITH $toksCte, $sh3Cte,
         |dsh AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh),
         |first AS (SELECT s, MIN(doc_id) AS d0 FROM dsh GROUP BY s)
         |SELECT dsh.doc_id, COUNT(*) AS n_grams,
         |  ROUND(SUM(CASE WHEN f.d0 < dsh.doc_id THEN 0 ELSE 1 END) * 1.0 / COUNT(*), 4) AS novel_frac
         |FROM dsh JOIN first f ON dsh.s = f.s
         |GROUP BY dsh.doc_id ORDER BY dsh.doc_id""".stripMargin,

    "ext_corpus_stats" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |wc AS (SELECT tok, COUNT(*) AS c FROM dt GROUP BY tok),
         |tot AS (SELECT COUNT(*) AS vocab_size, CAST(SUM(c) AS BIGINT) AS n_tokens FROM wc),
         |top AS (SELECT SUM(c) AS top100 FROM
         |          (SELECT c FROM wc ORDER BY c DESC, tok LIMIT 100)),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT n_docs, n_tokens, vocab_size,
         |  ROUND(vocab_size * 1.0 / n_tokens, 4) AS type_token_ratio,
         |  ROUND(top100 * 1.0 / n_tokens, 4) AS top100_coverage
         |FROM nd, tot, top""".stripMargin,

    "ext_weighted_sample" ->
      """SELECT doc_id FROM documents
        |WHERE CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 10000
        |      < LEAST(n_chars / 1000.0, 1.0) * 10000
        |ORDER BY doc_id""".stripMargin,

    "ext_percentiles" ->
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the stub codec derives every value from md5 hex slices precisely so
    // these two can be hash-checked (see Multimodal.StubCodec)
    "ext_multimodal_image_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) AS hex
        |  FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT media_id,
        |  CAST(64 + CAST('0x' || substr(hex, 1, 8) AS BIGINT) % 1024 AS INT) AS width,
        |  CAST(64 + CAST('0x' || substr(hex, 9, 8) AS BIGINT) % 1024 AS INT) AS height,
        |  CAST(1 + CAST('0x' || substr(hex, 17, 2) AS BIGINT) % 4 AS INT) AS channels,
        |  CAST(CAST('0x' || substr(hex, 19, 4) AS BIGINT) % 256 AS DOUBLE) AS mean_intensity,
        |  CAST('0x' || substr(hex, 1, 15) AS BIGINT) AS phash
        |FROM m ORDER BY media_id""".stripMargin,

    "ext_multimodal_audio" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) AS hex
        |  FROM documents WHERE doc_id % 3 = 1
        |)
        |SELECT media_id,
        |  CAST([8000, 16000, 22050, 44100][CAST(CAST('0x' || substr(hex, 27, 2) AS BIGINT) % 4 AS INT) + 1] AS INT) AS sample_rate,
        |  1000 + CAST('0x' || substr(hex, 5, 8) AS BIGINT) % 1000000 AS n_samples,
        |  CAST(CAST('0x' || substr(hex, 13, 4) AS BIGINT) % 10000 AS DOUBLE) / 10000.0 AS rms
        |FROM m ORDER BY media_id""".stripMargin,

    "ext_multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) AS hex
        |  FROM documents WHERE doc_id % 3 = 2
        |),
        |f AS (SELECT media_id, hex,
        |        8 + CAST('0x' || substr(hex, 23, 4) AS BIGINT) % 56 AS n FROM m)
        |SELECT media_id, CAST(i AS INT) AS frame_index,
        |  CAST('0x' || substr(hex, 9, 15) AS BIGINT) + i * 1000003 AS frame_hash
        |FROM (SELECT media_id, hex, unnest(range(0, n)) AS i FROM f)
        |WHERE i % 4 = 0
        |ORDER BY media_id, frame_index""".stripMargin,

    // GOLDEN-AS-ORACLE: the planted-PNG payloads are pure functions of
    // doc_id (not text), the n smallest doc_ids are 0..n−1 at every
    // fixture scale, and PNG decode of our own encode is pixel-lossless —
    // so the real-decoder pair table is SCALE-INVARIANT and inlined here
    // verbatim. Every id pairs with id+offset (RealPhashDedupSpec's
    // planted contract); the per-id Hamming distances were measured ONCE
    // through ImageIoCodec (JDK-independent: java.util.Random is
    // spec-fixed, aHash sees pixels only) and pinned. Regenerate after a
    // generator/codec change: run the entry at any sf and list the
    // (id, hamming != 0) rows.
    "ext_real_phash_dedup" ->
      s"""WITH nz AS (SELECT * FROM (VALUES
         |    (13,1),(14,1),(19,1),(29,1),(34,1),(76,1),(77,1),(80,2),
         |    (97,1),(111,1),(130,1),(141,1),(155,1),(167,1),(176,1),
         |    (179,2),(197,1),(198,1)) AS v(id, hm)),
         |ids AS (SELECT unnest(range(0, $PlantedPngCount)) AS i)
         |SELECT CAST(i AS BIGINT) AS media_a,
         |  CAST(i + ${Multimodal.PlantedNearDupOffset} AS BIGINT) AS media_b,
         |  CAST(COALESCE(hm, 0) AS INT) AS hamming
         |FROM ids LEFT JOIN nz ON nz.id = ids.i
         |ORDER BY media_a""".stripMargin,

    // hyperplane signs come from md5("seed:i:j"), so the whole LSH path —
    // planes, projections, buckets, candidate pairs, exact re-rank — is
    // replicated here end-to-end
    "ext_lsh_pairs_top10" ->
      s"""WITH $embCte,
         |params AS (SELECT t, 42 + 2654435769 * (t + 1) AS tseed
         |           FROM (SELECT unnest(range(0, 8)) AS t)),
         |lshb AS (SELECT CAST(MIN(b) AS INT) AS nb
         |  FROM (SELECT unnest(range(${Similarity.LshMinBits}, ${Similarity.LshMaxBits + 1})) AS b),
         |       (SELECT COUNT(*) AS n FROM e) cn
         |  WHERE b = ${Similarity.LshMaxBits}
         |     OR ${Similarity.LshTargetOccupancy} * (CAST(1 AS BIGINT) << CAST(b AS INT)) >= cn.n),
         |planes AS (
         |  SELECT p.t, i.i, j.j,
         |    CASE WHEN substr(md5(CAST(p.tseed AS VARCHAR) || ':' ||
         |                         CAST(i.i AS VARCHAR) || ':' ||
         |                         CAST(j.j AS VARCHAR)), 1, 1) < '8'
         |         THEN 1.0 ELSE -1.0 END AS w
         |  FROM params p,
         |       (SELECT unnest(range(0, (SELECT nb FROM lshb))) AS i) i,
         |       (SELECT unnest(range(0, 64)) AS j) j
         |),
         |proj AS (
         |  SELECT v.vec_id, pl.t, pl.i, SUM(v.e[CAST(pl.j AS INT) + 1] * pl.w) AS s
         |  FROM e v, planes pl GROUP BY 1, 2, 3
         |),
         |buckets AS (
         |  SELECT vec_id, t,
         |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM proj GROUP BY 1, 2
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM buckets a JOIN buckets b
         |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |)
         |SELECT c.vec_a, c.vec_b, ${cosSql("ea.e", "eb.e")} AS cos
         |FROM cand c JOIN e ea ON ea.vec_id = c.vec_a JOIN e eb ON eb.vec_id = c.vec_b
         |ORDER BY cos DESC, vec_a, vec_b LIMIT 10""".stripMargin,

    "ext_kmeans" -> kmeansOracle(k = 8, iters = 1, dim = 64),

    // extends the k-means chain (final assignment = a1 at iters=1) with the
    // within-cluster rounded-cosine drop rule of Similarity.semDedup;
    // k is VOLUME-DERIVED (the Similarity.kmeansKFor twin: smallest
    // pow2 k in [KmeansMinK, KmeansMaxK] with COUNT(*) <= target*k —
    // integer-exact, so a fixed k can't turn the within-cluster pair join
    // quadratic at sweep scales; identical k=8 at fixture scales). The
    // pow2 ladder and bounds are INTERPOLATED from the Scala constants —
    // never restated as literals (see Similarity.KmeansTargetClusterSize).
    "ext_semdedup" ->
      s"""WITH ${kmeansCtes(k = 8, iters = 1, dim = 64, kSql = Some(
           "(SELECT MIN(kk) FROM (SELECT unnest([" +
           Iterator.iterate(Similarity.KmeansMinK)(_ * 2)
             .takeWhile(_ <= Similarity.KmeansMaxK).mkString(",") +
           "]) AS kk), (SELECT COUNT(*) AS n FROM e) cn" +
           s" WHERE kk = ${Similarity.KmeansMaxK}" +
           s" OR kk * ${Similarity.KmeansTargetClusterSize} >= cn.n)"))},
         |drp AS (
         |  SELECT DISTINCT y.vec_id
         |  FROM a1 x JOIN a1 y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |  JOIN e ex ON ex.vec_id = x.vec_id
         |  JOIN e ey ON ey.vec_id = y.vec_id
         |  WHERE ${cosSql("ex.e", "ey.e")} >= 0.45)
         |SELECT a.vec_id, a.cid AS cluster,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
         |FROM a1 a LEFT JOIN drp d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    "ext_gopher_filter" ->
      s"""WITH $toksCte,
         |m AS (SELECT doc_id,
         |  len(ts) AS n_words,
         |  CASE WHEN len(ts) = 0 THEN NULL ELSE
         |    ROUND(list_sum(list_transform(ts, t -> length(t))) * 1.0 / len(ts), 4) END AS mean_word_len,
         |  CASE WHEN len(ts) = 0 THEN NULL ELSE
         |    ROUND(len(list_filter(ts, t -> regexp_matches(t, '[a-zA-Z]'))) * 1.0 / len(ts), 4) END AS alpha_frac,
         |  CASE WHEN len(ts) = 0 THEN NULL ELSE
         |    ROUND(((length(text) - length(replace(text, '#', '')))
         |         + (length(text) - length(replace(text, '…', '')))) * 1.0 / len(ts), 4) END AS symbol_ratio,
         |  len(list_intersect(ts, ${stopList("en")})) AS n_stop
         |  FROM toks)
         |SELECT doc_id, n_words, mean_word_len, alpha_frac, symbol_ratio, n_stop,
         |  CAST(n_words BETWEEN 50 AND 100000 AS INT) AS r_words,
         |  CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INT) AS r_word_len,
         |  CAST(alpha_frac >= 0.8 AS INT) AS r_alpha,
         |  CAST(symbol_ratio <= 0.1 AS INT) AS r_symbol,
         |  CAST(n_stop >= 2 AS INT) AS r_stop,
         |  CAST((n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |    AND alpha_frac >= 0.8 AND symbol_ratio <= 0.1 AND n_stop >= 2 AS INT) AS gopher_pass
         |FROM m ORDER BY doc_id""".stripMargin,

    "ext_repeated_spans" ->
      s"""WITH ${repeatedSpansCtes(SpanGramLen)}
         |SELECT doc_id, MIN(p) AS span_start, MAX(p) + ${SpanGramLen - 1} AS span_end
         |FROM grp GROUP BY doc_id, g ORDER BY doc_id, span_start""".stripMargin,

    // removal = complement of the span set, rebuilt char-by-char (the
    // oracle-side spec); the Spark side is the in-row segment fold
    "ext_remove_spans" ->
      s"""WITH ${repeatedSpansCtes(SpanGramLen)},
         |spans AS (SELECT doc_id, MIN(p) AS s, MAX(p) + ${SpanGramLen - 1} AS e
         |  FROM grp GROUP BY doc_id, g),
         |chars AS (SELECT d.doc_id, CAST(t.p AS INT) AS p,
         |    substr(d.text, CAST(t.p AS INT), 1) AS ch
         |  FROM documents d, unnest(range(1, length(d.text) + 1)) AS t(p)),
         |kept AS (SELECT c.doc_id, c.p, c.ch FROM chars c
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = c.doc_id AND c.p BETWEEN s.s AND s.e)),
         |agg AS (SELECT doc_id, string_agg(ch, '' ORDER BY p) AS clean
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.clean, '') AS clean_text
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "ext_quantize_int8" ->
      s"""WITH $embCte,
         |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS ma FROM e)
         |SELECT vec_id, CAST(t.j - 1 AS INT) AS pos,
         |  CAST(CASE WHEN ma = 0.0 THEN 0
         |            ELSE floor(e[CAST(t.j AS INT)] * 127.0 / ma + 0.5) END AS INT) AS q
         |FROM m, unnest(range(1, 65)) AS t(j)
         |ORDER BY vec_id, pos""".stripMargin,

    "ext_bm25" -> bm25Oracle(Bm25Terms, k1 = 1.2, b = 0.75),
    // the index-served path must reproduce the scan path bit-for-bit,
    // so it carries the SAME oracle
    "ext_bm25_from_index" -> bm25Oracle(Bm25Terms, k1 = 1.2, b = 0.75),

    "ext_lm_score" ->
      s"""WITH $toksCte,
         |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
         |         i -> ts[i] || ' ' || ts[i+1])) AS sh
         |       FROM toks WHERE len(ts) >= 2),
         |bc AS (SELECT sh, COUNT(*) AS c FROM bi GROUP BY sh),
         |tot AS (SELECT string_split(sh, ' ')[1] AS w1, SUM(c) AS n1 FROM bc GROUP BY 1),
         |lm AS (SELECT sh, CAST(c AS DOUBLE) / n1 AS p
         |       FROM bc JOIN tot ON string_split(bc.sh, ' ')[1] = tot.w1)
         |SELECT doc_id, ROUND(-AVG(ln(p)), 4) AS nll
         |FROM bi JOIN lm USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // bloom pre-filter is a plan optimization, not a semantics change:
    // the oracle is the plain semi-join
    "ext_bloom_semi_join" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey < 5)
        |ORDER BY o_orderkey""".stripMargin,

    // salting is salt-invariant by construction: oracle = q20's rollup
    "ext_salted_revenue" ->
      """SELECT n.n_name,
        |  ROUND(CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS DOUBLE)
        |    / 10000.0, 4) AS rev
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    // two-level partial merge must equal the single-level aggregate
    "ext_partial_agg_merge" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS s
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Misra–Gries at capacity ≥ V is exact: oracle = true top-20 counts
    "ext_topk_sketch" ->
      s"""WITH $toksCte, tt AS (SELECT unnest(ts) AS tok FROM toks)
         |SELECT tok, COUNT(*) AS c FROM tt GROUP BY tok
         |ORDER BY c DESC, tok LIMIT 20""".stripMargin,

    "ext_zorder" -> {
      val z = zorderSql("n_chars", "(doc_id % 65536)", 16)
      s"""WITH zk AS (SELECT doc_id, CAST($z AS BIGINT) AS zkey FROM documents)
         |SELECT doc_id, zkey, NTILE(8) OVER (ORDER BY zkey, doc_id) AS file_id
         |FROM zk ORDER BY doc_id""".stripMargin
    },

    // the round trip must reproduce the parquet truth exactly
    "ext_jsonl_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS h
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_csv_roundtrip" ->
      """SELECT event_id, user_id, event_type, ROUND(value, 4) AS v
        |FROM events ORDER BY event_id""".stripMargin,

    "ext_rolling_features" ->
      """SELECT event_id, ROUND(AVG(value) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS rolling_mean
        |FROM events ORDER BY event_id""".stripMargin,

    "ext_compact_latest" ->
      """WITH r AS (SELECT user_id, event_id, event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id AS latest_event_id, event_type, ROUND(value, 4) AS v
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // the round trip must reproduce the parquet truth exactly
    "ext_orc_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |  ROUND(l_quantity, 4) AS qty, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "ext_xml_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  ROUND(o_totalprice, 4) AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // chunk i covers tokens [i*32, i*32+64); last chunk may be short
    "ext_chunk_windows" ->
      s"""WITH $toksCte,
         |ch AS (
         |  SELECT doc_id, i AS chunk_idx,
         |         list_slice(ts, i*32 + 1, least(i*32 + 64, len(ts))) AS chunk
         |  FROM toks, unnest(range(0,
         |    CAST(ceil(greatest(len(ts) - 64, 0) / 32.0) AS BIGINT) + 1)) AS t(i)
         |  WHERE len(ts) > 0
         |)
         |SELECT doc_id, chunk_idx, len(chunk) AS n_toks,
         |       md5(array_to_string(chunk, ' ')) AS h
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    // winnowing: k=4 shingle hashes (8-hex md5 prefix), min per window of
    // 5, distinct per doc — mirrors TextAnalysis.winnowFingerprints
    "ext_winnow" ->
      s"""WITH $winnowCtes
         |SELECT doc_id, unnest(fps) AS fp FROM sel ORDER BY doc_id, fp""".stripMargin,

    "ext_winnow_pairs" ->
      s"""WITH $winnowCtes,
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM sel)
         |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, COUNT(*) AS shared
         |FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY doc_a, doc_b""".stripMargin,

    // ground truth WITHOUT the prefix filter: every pair sharing any
    // token, exact-verified — completeness check for the Spark side's
    // prefix-filtered algorithm (3*ov >= na+nb is Jaccard >= 0.5 in
    // exact integer arithmetic)
    "ext_setsim_join" ->
      s"""WITH $toksCte, $sh3Cte,
         |dt AS (SELECT doc_id, unnest(list_distinct(sh)) AS tok FROM sh),
         |d AS (SELECT doc_id, list(tok) AS s, COUNT(*) AS n
         |      FROM dt GROUP BY doc_id),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |         FROM dt l JOIN dt r ON l.tok = r.tok AND l.doc_id < r.doc_id),
         |j AS (SELECT doc_a, doc_b, len(list_intersect(a.s, b.s)) AS ov,
         |             a.n AS na, b.n AS nb
         |      FROM cand JOIN d a ON a.doc_id = doc_a JOIN d b ON b.doc_id = doc_b)
         |SELECT doc_a, doc_b, ROUND(ov / (na + nb - ov), 4) AS jac
         |FROM j WHERE 3 * ov >= na + nb
         |ORDER BY doc_a, doc_b""".stripMargin,

    // ground truth WITHOUT the one-sided prefix filter: every ordered
    // pair sharing any shingle, exact-verified — completeness check for
    // the Spark side's asymmetric prefix+size-filtered algorithm
    // (5*ov >= 4*na is containment >= 0.8 in exact integer arithmetic)
    "ext_containment_join" ->
      s"""WITH $toksCte, $sh3Cte,
         |dt AS (SELECT doc_id, unnest(list_distinct(sh)) AS tok FROM sh),
         |d AS (SELECT doc_id, list(tok) AS s, COUNT(*) AS n
         |      FROM dt GROUP BY doc_id),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |         FROM dt l JOIN dt r ON l.tok = r.tok AND l.doc_id <> r.doc_id),
         |j AS (SELECT doc_a, doc_b, len(list_intersect(a.s, b.s)) AS ov,
         |             a.n AS na
         |      FROM cand JOIN d a ON a.doc_id = doc_a JOIN d b ON b.doc_id = doc_b)
         |SELECT doc_a, doc_b, ROUND(ov * 1.0 / na, 4) AS containment
         |FROM j WHERE 5 * ov >= 4 * na
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the identical normalization chain replayed with RE2's 'g' flag;
    // explicit ASCII punctuation ranges (never \p{Punct}) keep the class
    // byte-identical across Java regex and RE2
    "ext_normalize_text" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |  regexp_replace(lower(text), '[0-9]', '0', 'g'),
        |  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, norm, LENGTH(norm) AS n_norm_chars
        |FROM n ORDER BY doc_id""".stripMargin,

    "ext_dedup_normalized" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |  regexp_replace(lower(text), '[0-9]', '0', 'g'),
        |  '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
        |FROM n GROUP BY md5(norm) ORDER BY doc_id""".stripMargin,

    // zero-overlap source pairs absent on both sides (inner shingle join)
    "ext_source_overlap" ->
      """WITH t AS (SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |           FROM documents),
        |s AS (SELECT source, unnest(list_transform(range(1, len(ts) - 1),
        |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
        |      FROM t WHERE len(ts) >= 3),
        |ds AS (SELECT DISTINCT source, sh FROM s),
        |sz AS (SELECT source, COUNT(*) AS n FROM ds GROUP BY source),
        |i AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS i
        |      FROM ds a JOIN ds b ON a.sh = b.sh AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT src_a, src_b, ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jac
        |FROM i JOIN sz sa ON sa.source = src_a JOIN sz sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,

    // deterministic sketch (md5 rank, no RNG), so the oracle replays the
    // estimator EXACTLY: k smallest hashes per source, estimate =
    // |X ∩ A ∩ B| / |X| with X = k smallest of A ∪ B
    "ext_source_overlap_kmv" ->
      """WITH t AS (SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |           FROM documents),
        |s AS (SELECT source, unnest(list_transform(range(1, len(ts) - 1),
        |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
        |      FROM t WHERE len(ts) >= 3),
        |ds AS (SELECT DISTINCT source, md5(sh) AS h FROM s),
        |rk AS (SELECT source, h,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS r
        |       FROM ds),
        |sig AS (SELECT source, list_sort(list(h)) AS sig
        |        FROM rk WHERE r <= 256 GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |        list_sort(list_distinct(list_concat(a.sig, b.sig))) AS u,
        |        list_intersect(a.sig, b.sig) AS ab
        |      FROM sig a JOIN sig b ON a.source < b.source)
        |SELECT src_a, src_b,
        |  ROUND(len(list_intersect(u[1:256], ab)) * 1.0
        |        / least(256, len(u)), 4) AS jac_est
        |FROM p
        |WHERE len(list_intersect(u[1:256], ab)) > 0
        |ORDER BY src_a, src_b""".stripMargin,

    // the md5-parity sign matrix re-derived inline: first hex digit of
    // md5('rp:i:j') < '8' means +1 — a pure function of (i, j), so both
    // engines build the identical matrix and list_dot_product matches
    // the Spark side's codegen'd fold order exactly
    "ext_random_projection" ->
      s"""WITH $embCte,
         |g AS (SELECT j, list_transform(range(1, 65), i ->
         |        CASE WHEN substr(md5('rp:' || (i - 1)::VARCHAR || ':' || j::VARCHAR), 1, 1) < '8'
         |             THEN 1.0 ELSE -1.0 END) AS s
         |      FROM range(0, 16) t(j))
         |SELECT vec_id, j,
         |  ROUND(list_dot_product(e, s) / sqrt(16.0), 4) + 0.0 AS y
         |FROM e CROSS JOIN g
         |ORDER BY vec_id, j""".stripMargin,

    // the same deterministic byte arithmetic (octet_length + fixed
    // widths), CAST to BIGINT so DuckDB's HUGEINT sum can't diverge in
    // the driver's pandas render
    "ext_write_plan" ->
      """WITH b AS (SELECT lang, COUNT(*) AS n_rows,
        |  CAST(SUM(strlen(text) + strlen(lang)
        |           + strlen(source) + 16) AS BIGINT) AS est_bytes
        |  FROM documents GROUP BY lang)
        |SELECT lang, n_rows, est_bytes,
        |  GREATEST(1, CAST(CEIL(est_bytes / 65536.0) AS BIGINT)) AS n_files
        |FROM b ORDER BY lang""".stripMargin,

    "ext_skew_report" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys FROM c)
        |SELECT user_id, n, ROUND(n * 1.0 / total, 4) AS share,
        |  ROUND(n * 1.0 * n_keys / total, 4) AS skew
        |FROM c, t ORDER BY n DESC, user_id LIMIT 20""".stripMargin,

    // replayed exactly: u from the same md5 hex window, the same
    // priority-key pow — selection compares the RAW keys (rounding only
    // in the output column)
    "ext_priority_sample" ->
      """WITH s AS (SELECT doc_id,
        |  (CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) + 0.5)
        |    / 4294967296.0 AS u,
        |  ((n_chars % 100) + 1) / 100.0 AS w
        |  FROM documents)
        |SELECT doc_id, ROUND(pow(u, 1.0 / w), 4) AS es_key
        |FROM s ORDER BY pow(u, 1.0 / w) DESC, doc_id LIMIT 50""".stripMargin,

    // prefix blocking (8 chars exact) + Levenshtein over 128-char prefixes
    "ext_edit_distance" ->
      """WITH b AS (SELECT doc_id, substr(text, 1, 8) AS bk,
        |                  substr(text, 1, 128) AS pre FROM documents)
        |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |       levenshtein(l.pre, r.pre) AS dist
        |FROM b l JOIN b r ON l.bk = r.bk AND l.doc_id < r.doc_id
        |ORDER BY dist, doc_a, doc_b LIMIT 10""".stripMargin,

    // partition-pruned read must equal a plain filtered scan
    "ext_partition_prune" ->
      """SELECT doc_id, n_chars FROM documents WHERE lang = 'es'
        |ORDER BY doc_id""".stripMargin,

    // the engine's two-pass distributed rank == the window-form rank
    "ext_shuffle_order" ->
      """SELECT doc_id,
        |  ROW_NUMBER() OVER (ORDER BY md5('42:' || doc_id::VARCHAR), doc_id) - 1
        |    AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the identical regexp chain, replayed with DuckDB's 'g' flag
    // (&amp; decoded last, matching TextAnalysis.stripMarkup — decoding
    // it first would double-decode nested entities like "&amp;lt;")
    "ext_strip_markup" ->
      """WITH s AS (SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(text,
        |    '<[^>]*>', ' ', 'g'),
        |    '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |    '&quot;', '"', 'g'), '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'),
        |    '&amp;', '&', 'g'),
        |    '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
        |    '\*+', '', 'g'),
        |  '\s+', ' ', 'g')) AS clean FROM documents)
        |SELECT doc_id, clean, LENGTH(clean) AS n_clean_chars
        |FROM s ORDER BY doc_id""".stripMargin,

    // gaps-and-islands: run starts = status change vs lag; lead over the
    // surviving starts yields [valid_from, valid_to) and the run length
    "ext_scd2" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |    LAG(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev,
        |    COUNT(*) OVER (PARTITION BY o_custkey) AS n
        |  FROM orders
        |),
        |s AS (SELECT * FROM r WHERE prev IS NULL OR prev <> o_orderstatus)
        |SELECT o_custkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY rn) AS run_idx,
        |  o_orderstatus,
        |  o_orderdate AS valid_from,
        |  LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY rn) AS valid_to,
        |  COALESCE(LEAD(rn) OVER (PARTITION BY o_custkey ORDER BY rn), n + 1) - rn AS n_rows
        |FROM s ORDER BY o_custkey, run_idx""".stripMargin,

    // blocklist = the corpus's top-8 bigrams; token-aligned containment
    // via space padding (text carries a trailing space; ' ' is prepended)
    "ext_blocklist" -> blocklistOracleSql,

    // the streaming gate must emit EXACTLY the batch filter's rows —
    // batch parity as a hash check, not an assertion
    "ext_stream_blocklist" -> blocklistOracleSql,
    // live/batch parity: the streaming gate's rollup must reproduce the
    // batch first-wins bucket-ownership marking exactly
    "ext_stream_neardup" ->
      s"""WITH $minhashBandsCtes,
         |own AS (SELECT band, key, MIN(doc_id) AS owner FROM bands GROUP BY 1, 2),
         |mk AS (SELECT b.doc_id, MIN(o.owner) AS dup_of0
         |       FROM bands b JOIN own o ON b.band = o.band AND b.key = o.key
         |       GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN mk.dup_of0 < d.doc_id THEN 1 ELSE 0 END AS dup,
         |  CASE WHEN mk.dup_of0 < d.doc_id THEN mk.dup_of0 END AS dup_of
         |FROM documents d LEFT JOIN mk ON mk.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // streaming robust-z gate == the batch outlier filter, row for row
    "ext_stream_mad" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS _med
        |  FROM events GROUP BY 1
        |), dv AS (
        |  SELECT e.event_type, e.event_id, e.value, m._med
        |  FROM events e JOIN m USING (event_type)
        |), a AS (
        |  SELECT event_type, quantile_cont(abs(value - _med), 0.5) AS _mad
        |  FROM dv GROUP BY 1
        |)
        |SELECT dv.event_id, dv.event_type, ROUND(dv.value, 4) AS value
        |FROM dv JOIN a USING (event_type)
        |WHERE abs(dv.value - dv._med) > 3 * 1.4826 * a._mad
        |ORDER BY dv.event_id""".stripMargin,
  ) ++ oraclesTail

  private lazy val blocklistOracleSql: String =
      s"""WITH $toksCte,
         |bi AS (
         |  SELECT unnest(list_transform(range(1, len(ts)),
         |    i -> ts[i] || ' ' || ts[i+1])) AS ngram
         |  FROM toks WHERE len(ts) >= 2
         |),
         |top AS (SELECT ngram, COUNT(*) AS c FROM bi GROUP BY ngram
         |        ORDER BY c DESC, ngram LIMIT 8),
         |m AS (
         |  SELECT d.doc_id,
         |    (SELECT COUNT(*) FROM top t
         |     WHERE contains(' ' || d.text || ' ', ' ' || t.ngram || ' ')) AS n_matched
         |  FROM documents d)
         |SELECT doc_id, n_matched,
         |  CASE WHEN n_matched = 0 THEN 1 ELSE 0 END AS kept
         |FROM m ORDER BY doc_id""".stripMargin

  // lazy: referenced from `oracles`, which is initialized first
  private lazy val oraclesTail: Map[String, String] = Map(
    // inner join: orders with no lineitem rows simply don't appear
    "ext_bucketed_join" ->
      """SELECT o.o_orderkey, o.o_orderstatus,
        |  ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue,
        |  COUNT(*) AS n_items
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderkey, o.o_orderstatus
        |ORDER BY o.o_orderkey""".stripMargin,

    // md5-HLL replay: bucket = first 2 hex chars, rho = 1 + leading zero
    // bits of the next 13; the Σ2^-M fold runs over the bucket-sorted
    // register list (list_reduce = the same left fold Spark's aggregate
    // HOF does) with 2^-M as exact integer-shift reciprocals — no pow()
    "ext_hll_cardinality" ->
      s"""WITH tsrc AS (
         |  SELECT source, list_filter(string_split(text, ' '), t -> t <> '') AS ts
         |  FROM documents
         |),
         |occ AS (
         |  SELECT source, unnest(list_transform(range(1, len(ts) - 1),
         |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
         |  FROM tsrc WHERE len(ts) >= 3
         |),
         |hx AS (SELECT source, sh, md5(sh) AS h FROM occ),
         |rb AS (
         |  SELECT source,
         |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
         |      + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
         |    CASE WHEN length(regexp_extract(substr(h, 3, 13), '^0*', 0)) = 13 THEN 53
         |      ELSE length(regexp_extract(substr(h, 3, 13), '^0*', 0)) * 4
         |        + CASE WHEN strpos('0123456789abcdef', substr(substr(h, 3, 13),
         |                 length(regexp_extract(substr(h, 3, 13), '^0*', 0)) + 1, 1)) - 1 >= 8 THEN 0
         |               WHEN strpos('0123456789abcdef', substr(substr(h, 3, 13),
         |                 length(regexp_extract(substr(h, 3, 13), '^0*', 0)) + 1, 1)) - 1 >= 4 THEN 1
         |               WHEN strpos('0123456789abcdef', substr(substr(h, 3, 13),
         |                 length(regexp_extract(substr(h, 3, 13), '^0*', 0)) + 1, 1)) - 1 >= 2 THEN 2
         |               ELSE 3 END + 1 END AS rho
         |  FROM hx),
         |regs AS (SELECT source, bucket, MAX(rho) AS m FROM rb GROUP BY source, bucket),
         |regs2 AS (SELECT * FROM regs
         |          UNION ALL
         |          SELECT '__all__' AS source, bucket, MAX(m) AS m FROM regs GROUP BY bucket),
         |folds AS (
         |  SELECT source, 256 - COUNT(*) AS zeros,
         |    list_reduce(list_transform(list(m ORDER BY bucket),
         |      mm -> 1.0 / CAST(1::BIGINT << mm AS DOUBLE)), (a, b) -> a + b) AS fold
         |  FROM regs2 GROUP BY source),
         |raws AS (
         |  SELECT source, zeros,
         |    (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
         |      / (CAST(zeros AS DOUBLE) + fold) AS raw
         |  FROM folds),
         |ests AS (
         |  SELECT source,
         |    CASE WHEN raw <= 640.0 AND zeros > 0
         |         THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE)) ELSE raw END AS hll_est
         |  FROM raws),
         |ex AS (SELECT source, COUNT(DISTINCT sh) AS n_exact FROM occ GROUP BY source
         |       UNION ALL
         |       SELECT '__all__' AS source, COUNT(DISTINCT sh) AS n_exact FROM occ)
         |SELECT e.source, x.n_exact, ROUND(e.hll_est, 4) AS hll_est,
         |  ROUND(abs(e.hll_est - x.n_exact) / x.n_exact, 4) AS rel_err
         |FROM ests e JOIN ex x USING (source) ORDER BY source""".stripMargin,

    "ext_linear_probe" -> linearProbeOracleSql(16),

    "ext_probe_auc" -> probeAucOracleSql(16),

    "ext_ppmi_direction" -> ppmiDirectionOracleSql(5),

    "ext_pseudonymize" ->
      """SELECT substr(md5('graft42' || ':' || CAST(user_id AS VARCHAR)), 1, 16)
        |         AS user_id_pseud,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 4) AS v
        |FROM events GROUP BY 1 ORDER BY user_id_pseud""".stripMargin,

    // readability: sentence count is a pure '.' char count (no splitter
    // semantics), syllable heuristic = vowel groups; the score is a fixed
    // left-to-right affine combination of two exact-integer ratios
    "ext_readability" ->
      s"""WITH $toksCte,
         |m AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_toks,
         |  GREATEST(1, CAST(len(text) - len(replace(text, '.', '')) AS BIGINT))
         |    AS n_sent,
         |  CAST(COALESCE(list_sum(list_transform(ts,
         |    t -> len(regexp_extract_all(t, '[aeiou]+')))), 0) AS BIGINT) AS n_syll
         |  FROM toks),
         |r AS (SELECT doc_id, n_toks, n_sent, n_syll,
         |  CAST(n_toks AS DOUBLE) / n_sent AS wps,
         |  CAST(n_syll AS DOUBLE) / n_toks AS spw
         |  FROM m WHERE n_toks > 0)
         |SELECT doc_id, n_toks, n_sent, n_syll,
         |  ROUND(0.39 * wps + 11.8 * spw - 15.59, 4) AS fk_grade,
         |  ROUND(206.835 - 1.015 * wps - 84.6 * spw, 4) AS ease
         |FROM r ORDER BY doc_id""".stripMargin,

    // all diversity measures are ratios of exact integer token moments;
    // the lns see only exact integers (Herdan's C = ln V / ln N)
    "ext_lexical_diversity" ->
      s"""WITH $toksCte,
         |occ AS (SELECT t.source, u.tok
         |        FROM (SELECT d.source, toks.ts FROM toks
         |              JOIN documents d USING (doc_id)) t,
         |        unnest(t.ts) AS u(tok)),
         |tc AS (SELECT source, tok, COUNT(*) AS c FROM occ GROUP BY 1, 2),
         |m AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |        COUNT(*) AS n_types, CAST(SUM(c * c) AS BIGINT) AS c2
         |      FROM tc GROUP BY source)
         |SELECT source, n_tokens, n_types,
         |  ROUND(CAST(n_types AS DOUBLE) / n_tokens, 4) AS ttr,
         |  ROUND(ln(CAST(n_types AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE)), 4)
         |    AS herdan_c,
         |  ROUND(10000.0 * CAST(c2 - n_tokens AS DOUBLE)
         |    / CAST(n_tokens * n_tokens AS DOUBLE), 4) AS yule_k,
         |  ROUND(CAST(c2 - n_tokens AS DOUBLE)
         |    / CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 6) AS simpson
         |FROM m WHERE n_tokens > 1 ORDER BY source""".stripMargin,

    // Benford: leading digit from the DECIMAL STRING of round(x*1e4) (an
    // exact integer — no floor(log10) libm risk); expected shares use ln
    // of exact integers; chi2 folds the nine contributions in digit order
    "ext_benford" ->
      """WITH iv AS (
        |  SELECT CAST(ROUND(value * 10000) AS BIGINT) AS iv FROM events
        |  WHERE value IS NOT NULL AND CAST(ROUND(value * 10000) AS BIGINT) > 0),
        |d AS (SELECT CAST(substr(CAST(iv AS VARCHAR), 1, 1) AS INT) AS digit,
        |        COUNT(*) AS n_obs
        |      FROM iv GROUP BY 1),
        |n AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM d),
        |k AS (SELECT digit, n_obs,
        |        (ln(CAST(digit + 1 AS DOUBLE)) - ln(CAST(digit AS DOUBLE)))
        |          / ln(10.0) * CAST(n.n AS DOUBLE) AS n_exp
        |      FROM d, n),
        |c AS (SELECT digit, n_obs, n_exp,
        |        (CAST(n_obs AS DOUBLE) - n_exp) * (CAST(n_obs AS DOUBLE) - n_exp)
        |          / n_exp AS contrib
        |      FROM k),
        |chi AS (SELECT list_reduce(list(contrib ORDER BY digit),
        |          (a, b) -> a + b) AS chi2 FROM c)
        |SELECT c.digit, c.n_obs, ROUND(c.n_exp, 4) AS n_exp,
        |  ROUND(c.contrib, 4) AS contrib, ROUND(chi.chi2, 4) AS chi2
        |FROM c, chi ORDER BY digit""".stripMargin,

    // CUSUM on 2-decimal integer values; the cumulative deviation is held
    // n-scaled (C_i = n*P_i - i*S, all exact BIGINTs) so the argmax is an
    // integer comparison — no double mean enters the ordering
    "ext_cusum" ->
      """WITH v AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |c AS (SELECT event_type, ts, event_id, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
        |    SUM(v) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS p,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n,
        |    SUM(v) OVER (PARTITION BY event_type) AS s
        |  FROM v),
        |x AS (SELECT event_type, ts, event_id, rn, n,
        |    n * p - rn * s AS c,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ABS(n * p - rn * s) DESC, rn) AS rk
        |  FROM c)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(rn AS BIGINT) AS cp_rank,
        |  event_id AS cp_event_id, ts AS cp_ts,
        |  ROUND(CAST(ABS(c) AS DOUBLE) / CAST(n * 100 AS DOUBLE), 4) AS cusum_peak
        |FROM x WHERE rk = 1 ORDER BY event_type""".stripMargin,

    // hourly autocorrelation: CONTIGUOUS hour grid (missing hours = 0),
    // lag pairing on exact epoch-hour integers, Pearson r from exact
    // integer moment sums (the Heaps/Zipf deterministic-moment pattern)
    "ext_autocorr" ->
      s"""WITH hc AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type,
        |           GREATEST(CAST(epoch(MIN(h)) AS BIGINT) // 3600,
        |                    CAST(epoch(MAX(h)) AS BIGINT) // 3600
        |                      - ${Temporal.GridMaxSpanHours - 1}) AS eh0,
        |           CAST(epoch(MAX(h)) AS BIGINT) // 3600 AS eh1
        |         FROM hc GROUP BY event_type),
        |hours AS MATERIALIZED (
        |  SELECT s.event_type, CAST(g.eh AS BIGINT) AS eh
        |  FROM span s, unnest(range(s.eh0, s.eh1 + 1)) AS g(eh)),
        |hce AS (SELECT event_type, CAST(epoch(h) AS BIGINT) // 3600 AS eh, c
        |        FROM hc),
        |grid AS (
        |  SELECT hr.event_type, hr.eh, CAST(COALESCE(hce.c, 0) AS BIGINT) AS c
        |  FROM hours hr LEFT JOIN hce USING (event_type, eh)),
        |lags AS (SELECT * FROM (VALUES (1), (2), (3)) AS t(lag)),
        |pairs AS (
        |  SELECT a.event_type, l.lag, a.c AS x, b.c AS y
        |  FROM grid a JOIN lags l ON TRUE
        |  JOIN grid b ON b.event_type = a.event_type AND b.eh = a.eh + l.lag),
        |m AS (SELECT event_type, lag, COUNT(*) AS m,
        |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |        CAST(SUM(x * y) AS BIGINT) AS sxy,
        |        CAST(SUM(x * x) AS BIGINT) AS sxx,
        |        CAST(SUM(y * y) AS BIGINT) AS syy
        |      FROM pairs GROUP BY 1, 2),
        |f AS (SELECT event_type, lag, m,
        |        CAST(m * sxy - sx * sy AS DOUBLE) AS num,
        |        CAST(m * sxx - sx * sx AS DOUBLE) AS dx,
        |        CAST(m * syy - sy * sy AS DOUBLE) AS dy
        |      FROM m)
        |SELECT event_type, lag, m AS n_pairs,
        |  CASE WHEN m > 1 AND dx > 0 AND dy > 0
        |       THEN ROUND(num / (sqrt(dx) * sqrt(dy)), 4) END AS r
        |FROM f ORDER BY event_type, lag""".stripMargin,

    // weekly type shares + per-type max swing: exact integer counts,
    // single divisions, swing an order statistic over identical doubles
    "ext_weekly_share_drift" ->
      """WITH c AS (SELECT epoch_us(ts) // 604800000000 AS week, event_type,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT week, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY week),
        |sh AS (SELECT c.week, c.event_type, c.c,
        |         CAST(c.c AS DOUBLE) / tot.n AS share
        |       FROM c JOIN tot USING (week)),
        |sw AS (SELECT event_type, ROUND(MAX(share) - MIN(share), 4) AS max_swing
        |       FROM sh GROUP BY event_type)
        |SELECT sh.week, sh.event_type, sh.c, ROUND(sh.share, 4) AS share,
        |  sw.max_swing
        |FROM sh JOIN sw USING (event_type)
        |ORDER BY week, event_type""".stripMargin,

    // new vs returning per day: first-seen day per user, one rollup
    "ext_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(date_trunc('day', ts)) // 86400000000 AS d
        |  FROM events),
        |fd AS (SELECT user_id, MIN(d) AS d0 FROM ud GROUP BY user_id),
        |dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY d),
        |nw AS (SELECT d0 AS d, COUNT(*) AS new_users FROM fd GROUP BY d0)
        |SELECT dau.d AS epoch_day, dau.dau,
        |  CAST(COALESCE(nw.new_users, 0) AS BIGINT) AS new_users,
        |  dau.dau - CAST(COALESCE(nw.new_users, 0) AS BIGINT) AS returning,
        |  ROUND(CAST(COALESCE(nw.new_users, 0) AS DOUBLE) / dau.dau, 4) AS new_frac
        |FROM dau LEFT JOIN nw USING (d)
        |ORDER BY epoch_day""".stripMargin,

    // char-class census: regexp strip-lengths are exact integers
    "ext_char_census" ->
      """WITH m AS (SELECT source, CAST(len(text) AS BIGINT) AS n,
        |    CAST(len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g'))
        |      AS BIGINT) AS a,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS BIGINT) AS d,
        |    CAST(len(text) - len(regexp_replace(text, '\s', '', 'g'))
        |      AS BIGINT) AS sp
        |  FROM documents),
        |g AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_chars,
        |        CAST(SUM(a) AS BIGINT) AS a, CAST(SUM(d) AS BIGINT) AS d,
        |        CAST(SUM(sp) AS BIGINT) AS sp
        |      FROM m GROUP BY source)
        |SELECT source, n_chars,
        |  ROUND(CAST(a AS DOUBLE) / n_chars, 4) AS alpha_frac,
        |  ROUND(CAST(d AS DOUBLE) / n_chars, 4) AS digit_frac,
        |  ROUND(CAST(sp AS DOUBLE) / n_chars, 4) AS space_frac,
        |  ROUND(CAST(n_chars - a - d - sp AS DOUBLE) / n_chars, 4) AS other_frac
        |FROM g WHERE n_chars > 0 ORDER BY source""".stripMargin,

    // boundary-token census: first/last token per doc, top-10 each by
    // (count desc, token)
    "ext_boilerplate_tokens" ->
      s"""WITH $toksCte,
         |nz AS (SELECT ts FROM toks WHERE len(ts) > 0),
         |nd AS (SELECT COUNT(*) AS n_docs FROM nz),
         |b AS (SELECT 'first' AS position, ts[1] AS tok FROM nz
         |      UNION ALL SELECT 'last', ts[len(ts)] FROM nz),
         |c AS (SELECT position, tok, COUNT(*) AS c FROM b GROUP BY 1, 2),
         |r AS (SELECT position, tok, c,
         |        CAST(row_number() OVER (PARTITION BY position
         |          ORDER BY c DESC, tok) AS INT) AS rank
         |      FROM c)
         |SELECT r.position, r.rank, r.tok, r.c,
         |  ROUND(CAST(r.c AS DOUBLE) / nd.n_docs, 4) AS doc_share
         |FROM r, nd WHERE r.rank <= 10
         |ORDER BY position, rank""".stripMargin,

    // per-user type-mix entropy in the exact-integer ln form
    "ext_user_entropy" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_types,
        |  ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) AS entropy
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,

    // JSON-extracted integer field: n/mean/sd from exact integer moments
    "ext_json_field_stats" ->
      """WITH x AS (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS x
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 4) AS mean,
        |  ROUND(sqrt(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
        |    / CAST(COUNT(*) * COUNT(*) AS DOUBLE)), 4) AS sd
        |FROM x WHERE x IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // circular hour stats: 24 exact counts per type, sin/cos terms folded
    // in hour order, the one atan2/sqrt through StableRound
    "ext_circular_hour" ->
      """WITH hc AS (SELECT event_type, hour(ts) AS h, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
        |        list_reduce(list(CAST(c AS DOUBLE) * sin(h * 2 * pi() / 24)
        |          ORDER BY h), (a, b) -> a + b) AS ss,
        |        list_reduce(list(CAST(c AS DOUBLE) * cos(h * 2 * pi() / 24)
        |          ORDER BY h), (a, b) -> a + b) AS cc
        |      FROM hc GROUP BY event_type),
        |m AS (SELECT event_type, n,
        |        (atan2(ss, cc) / (2 * pi()) * 24.0 + 24.0) % 24.0 AS mh,
        |        sqrt(ss * ss + cc * cc) / n AS r
        |      FROM f)
        |SELECT event_type, n,
        |  ROUND(mh + SIGN(mh) * 0.000000001, 4) AS mean_hour,
        |  ROUND(r + SIGN(r) * 0.000000001, 4) AS r
        |FROM m ORDER BY event_type""".stripMargin,

    // BM25 k1 sweep: ONE tf/df table scored three ways, each ranking on
    // the rounded score with doc-id tie-breaks
    "ext_bm25_sweep" -> bm25SweepSql,

    // W1 = sum over sorted distinct values of |F_g - F|*dv: exact integer
    // cumulatives, per-value term one division pair, fold in value order
    "ext_wasserstein" ->
      """WITH e AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |gv AS (SELECT g, v, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |vs AS (SELECT v, COUNT(*) AS ca FROM e GROUP BY v),
        |grid AS (SELECT gg.g, vs.v, CAST(COALESCE(gv.c, 0) AS BIGINT) AS c
        |         FROM (SELECT DISTINCT g FROM gv) gg
        |         CROSS JOIN vs LEFT JOIN gv USING (g, v)),
        |cg AS (SELECT g, v, c,
        |         SUM(c) OVER (PARTITION BY g ORDER BY v
        |           ROWS UNBOUNDED PRECEDING) AS cum_g,
        |         LEAD(v) OVER (PARTITION BY g ORDER BY v) - v AS dv
        |       FROM grid),
        |caa AS (SELECT v, SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |          AS cum_a FROM vs),
        |ng AS (SELECT g, COUNT(*) AS n_g FROM e GROUP BY g),
        |nn AS (SELECT COUNT(*) AS n FROM e),
        |t AS (SELECT cg.g, cg.v,
        |        ABS(CAST(cg.cum_g AS DOUBLE) / ng.n_g
        |          - CAST(caa.cum_a AS DOUBLE) / nn.n) * CAST(cg.dv AS DOUBLE)
        |          AS term
        |      FROM cg JOIN caa USING (v) JOIN ng USING (g), nn
        |      WHERE cg.dv IS NOT NULL),
        |w AS (SELECT g, list_reduce(list(term ORDER BY v), (a, b) -> a + b)
        |        AS w1raw FROM t GROUP BY g)
        |SELECT w.g AS source, ng.n_g,
        |  ROUND(w.w1raw + SIGN(w.w1raw) * 0.000000001, 4) AS w1
        |FROM w JOIN ng USING (g) ORDER BY source""".stripMargin,

    // Hill tail index over the top-100 order statistics: unique ranks on
    // (value desc, id), lns of engine-identical doubles folded in rank
    // order under StableRound
    "ext_tail_index" ->
      """WITH top AS (SELECT value AS v, event_id AS id FROM events
        |  WHERE value > 0 ORDER BY value DESC, event_id LIMIT 101),
        |rk AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC, id) AS rn FROM top),
        |ref AS (SELECT v AS x_ref FROM rk WHERE rn = 101),
        |s AS (SELECT COUNT(*) AS k, MIN(ref.x_ref) AS x_ref,
        |        list_reduce(list(ln(rk.v / ref.x_ref) ORDER BY rk.rn),
        |          (a, b) -> a + b) AS sln
        |      FROM rk, ref WHERE rk.rn <= 100)
        |SELECT k, ROUND(x_ref, 4) AS x_ref,
        |  CASE WHEN sln > 0.0 THEN
        |    ROUND(CAST(k AS DOUBLE) / sln
        |      + SIGN(CAST(k AS DOUBLE) / sln) * 0.000000001, 4)
        |  END AS alpha
        |FROM s""".stripMargin,

    // one-way ANOVA over exact integer moments: SSB/SSW assembled from
    // sum-of-squares identities, the per-group S^2/n fold in group order
    "ext_anova_f" ->
      """WITH g AS (SELECT lang AS g, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS s,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss,
        |          CAST(SUM(s2) AS BIGINT) AS ss2, COUNT(*) AS k FROM g),
        |sb AS (SELECT list_reduce(list(
        |         CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |           ORDER BY g), (a, b) -> a + b) AS sbs FROM g),
        |f AS (SELECT tot.k, tot.nn,
        |        sb.sbs - CAST(tot.ss AS DOUBLE) * CAST(tot.ss AS DOUBLE)
        |          / CAST(tot.nn AS DOUBLE) AS ssb,
        |        CAST(tot.ss2 AS DOUBLE) - sb.sbs AS ssw
        |      FROM tot, sb),
        |ff AS (SELECT k, nn,
        |         CASE WHEN k > 1 AND nn > k AND ssw > 0.0 THEN
        |           (ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(nn - k AS DOUBLE))
        |         END AS f_stat
        |       FROM f)
        |SELECT g.g AS lang, g.n,
        |  ROUND(CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE), 4) AS mean,
        |  ff.k AS n_groups, ff.nn AS n_total, ROUND(ff.f_stat, 4) AS f_stat
        |FROM g, ff ORDER BY lang""".stripMargin,

    // categorical MI: every log argument a ratio of exact integer
    // products; total folded in (x, y) cell order
    "ext_type_hour_mi" ->
      """WITH c AS (SELECT event_type AS x, hour(ts) AS y, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |cx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM c GROUP BY x),
        |cy AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM c GROUP BY y),
        |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
        |k AS (SELECT c.x, c.y, c.c,
        |        (CAST(c.c AS DOUBLE) / nn.n)
        |          * ln(CAST(c.c * nn.n AS DOUBLE) / CAST(cx.cx * cy.cy AS DOUBLE))
        |          AS contrib
        |      FROM c JOIN cx USING (x) JOIN cy USING (y), nn),
        |mi AS (SELECT list_reduce(list(contrib ORDER BY x, y),
        |         (a, b) -> a + b) AS mi FROM k)
        |SELECT k.x AS event_type, CAST(k.y AS INT) AS hr, k.c,
        |  ROUND(k.contrib, 4) + 0.0 AS contrib, ROUND(mi.mi, 4) + 0.0 AS mi
        |FROM k, mi ORDER BY event_type, hr""".stripMargin,

    // isotropy: cosines round to exact 1e-4 integers BEFORE aggregation,
    // so the means are integer ratios and min/max order statistics
    "ext_isotropy" ->
      s"""WITH $embCte,
         |nv AS (SELECT COUNT(*) AS n FROM e),
         |a AS (SELECT e.vec_id AS vec_a, e.e AS ea,
         |        (e.vec_id + 501) % nv.n AS partner
         |      FROM e, nv WHERE (e.vec_id + 501) % nv.n <> e.vec_id),
         |p AS (SELECT ${cosSql("a.ea", "b.e")} AS cos
         |      FROM a JOIN e b ON b.vec_id = a.partner),
         |ic AS (SELECT cos, CAST(ROUND(cos * 10000) AS BIGINT) AS ic FROM p),
         |nrm AS (SELECT CAST(SUM(CAST(ROUND(sqrt(list_dot_product(e, e)) * 10000)
         |          AS BIGINT)) AS BIGINT) AS snrm, COUNT(*) AS nv FROM e)
         |SELECT COUNT(*) AS n_pairs,
         |  ROUND(CAST(SUM(ic.ic) AS DOUBLE) / CAST(COUNT(*) * 10000 AS DOUBLE), 4)
         |    AS mean_cos,
         |  ROUND(CAST(SUM(ABS(ic.ic)) AS DOUBLE) / CAST(COUNT(*) * 10000 AS DOUBLE), 4)
         |    AS mean_abs_cos,
         |  MIN(ic.cos) AS cos_min, MAX(ic.cos) AS cos_max,
         |  ROUND(CAST(MIN(nrm.snrm) AS DOUBLE) / CAST(MIN(nrm.nv) * 10000 AS DOUBLE), 4)
         |    AS norm_mean
         |FROM ic, nrm""".stripMargin,

    // phash COMBINATION banding over the stub codec (md5-slice hashes):
    // 10 blocks of 6 bits keyed on every 2-block combination (45 combos
    // of 12-bit keys — Manku et al. 2007 multi-index; pigeonhole-valid
    // for hamming <= 8, mirrors phashBandedPairs defaults), candidates
    // from (combo, key) joins, hamming verified by bit_count(xor)
    "ext_multimodal_dedup" ->
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) AS hex FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, md5(text) FROM documents WHERE doc_id % 7 = 0),
        |p AS (SELECT media_id, CAST('0x' || substr(hex, 1, 15) AS BIGINT) AS phash
        |      FROM m),
        |k AS (SELECT * FROM (VALUES $phashComboVals) AS t(band, i, j)),
        |b AS (SELECT media_id, phash, k.band,
        |        ((phash // (1::BIGINT << (6 * k.i))) % 64)
        |        + ((phash // (1::BIGINT << (6 * k.j))) % 64) * 64 AS key
        |      FROM p, k),
        |pr AS (SELECT DISTINCT a.media_id AS media_a, b2.media_id AS media_b,
        |         a.phash AS pa, b2.phash AS pb
        |       FROM b a JOIN b b2
        |         ON a.band = b2.band AND a.key = b2.key
        |        AND a.media_id < b2.media_id)
        |SELECT media_a, media_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
        |FROM pr WHERE bit_count(xor(pa, pb)) <= 8
        |ORDER BY media_a, media_b""".stripMargin,

    // path surprisal: the lmScore pattern over the event-type Markov
    // model — exact count-ratio probs, AVG-of-ln per user, rounded rank
    "ext_path_surprisal" ->
      """WITH seq AS (SELECT user_id, event_type AS f,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM events),
        |tr AS (SELECT user_id, f, t FROM seq WHERE t IS NOT NULL),
        |c AS (SELECT f, t, COUNT(*) AS c FROM tr GROUP BY 1, 2),
        |tot AS (SELECT f, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY f),
        |lm AS (SELECT c.f, c.t, CAST(c.c AS DOUBLE) / tot.n AS p
        |       FROM c JOIN tot USING (f))
        |SELECT tr.user_id, COUNT(*) AS n_trans, ROUND(-AVG(ln(p)), 4) AS nll
        |FROM tr JOIN lm USING (f, t)
        |GROUP BY tr.user_id ORDER BY nll DESC, user_id LIMIT 20""".stripMargin,

    // gap sensitivity: one lag pass, each gap a conditional count over
    // exact integer microsecond deltas
    "ext_session_gap_curve" ->
      """WITH dt AS (SELECT user_id,
        |    epoch_us(ts) - LAG(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dt
        |  FROM events),
        |base AS (SELECT COUNT(DISTINCT user_id) AS n_users,
        |           COUNT(dt) AS n_gaps FROM dt),
        |g AS (SELECT * FROM (VALUES (5), (15), (30), (60)) AS t(gap_minutes)),
        |k AS (SELECT g.gap_minutes,
        |        CAST(SUM(CASE WHEN dt.dt > CAST(g.gap_minutes AS BIGINT) * 60000000
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks
        |      FROM g, dt GROUP BY 1)
        |SELECT k.gap_minutes, base.n_users,
        |  base.n_users + k.n_breaks AS n_sessions,
        |  ROUND(1.0 - CAST(k.n_breaks AS DOUBLE) / base.n_gaps, 4)
        |    AS continuation_rate
        |FROM k, base ORDER BY gap_minutes""".stripMargin,

    // k-anonymity: class-size histogram over the QI tuple; every number
    // an exact integer, shares single divisions
    "ext_k_anonymity" ->
      """WITH q AS (SELECT event_type, hour(ts) AS hr,
        |    CAST(ROUND(value * 100) AS BIGINT) // 1000 AS vb
        |  FROM events),
        |cls AS (SELECT event_type, hr, vb, COUNT(*) AS k FROM q GROUP BY 1, 2, 3),
        |hist AS (SELECT k, COUNT(*) AS n_classes,
        |           CAST(SUM(k) AS BIGINT) AS n_records FROM cls GROUP BY k),
        |tot AS (SELECT CAST(SUM(n_records) AS BIGINT) AS n,
        |          CAST(SUM(CASE WHEN k < 2 THEN n_records ELSE 0 END) AS BIGINT)
        |            AS lt2,
        |          CAST(SUM(CASE WHEN k < 5 THEN n_records ELSE 0 END) AS BIGINT)
        |            AS lt5,
        |          CAST(SUM(CASE WHEN k < 10 THEN n_records ELSE 0 END) AS BIGINT)
        |            AS lt10
        |        FROM hist)
        |SELECT hist.k AS class_size, hist.n_classes, hist.n_records,
        |  ROUND(CAST(tot.lt2 AS DOUBLE) / tot.n, 4) AS frac_lt2,
        |  ROUND(CAST(tot.lt5 AS DOUBLE) / tot.n, 4) AS frac_lt5,
        |  ROUND(CAST(tot.lt10 AS DOUBLE) / tot.n, 4) AS frac_lt10
        |FROM hist, tot ORDER BY class_size""".stripMargin,

    // Kaplan-Meier: exact epoch-day durations, span-bounded risk rollup,
    // survival = exp(running sum of ln((n-d)/n)) under StableRound
    "ext_kaplan_meier" ->
      """WITH u AS (SELECT user_id, MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
        |  FROM events GROUP BY user_id),
        |g AS (SELECT MAX(t1) AS gm FROM u),
        |us AS (SELECT (t1 - t0) // 86400000000 AS dur,
        |         CASE WHEN g.gm - t1 > 12 * 3600000000 THEN 1 ELSE 0 END AS observed
        |       FROM u, g),
        |times AS (SELECT dur, COUNT(*) AS d FROM us WHERE observed = 1 GROUP BY dur),
        |dc AS (SELECT dur, COUNT(*) AS cnt FROM us GROUP BY dur),
        |risk AS (SELECT dur,
        |    SUM(cnt) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING) AS n_risk
        |  FROM dc),
        |s AS (SELECT t.dur AS t, CAST(r.n_risk AS BIGINT) AS n_risk,
        |        t.d AS d_events,
        |        exp(SUM(ln(CAST(r.n_risk - t.d AS DOUBLE) / r.n_risk))
        |          OVER (ORDER BY t.dur ROWS UNBOUNDED PRECEDING)) AS sv
        |      FROM times t JOIN risk r USING (dur))
        |SELECT t, n_risk, d_events,
        |  ROUND(sv + SIGN(sv) * 0.000000001, 4) AS survival
        |FROM s ORDER BY t""".stripMargin,

    // jackknife: md5-bucketed exact integer sums; every mean a single
    // division; pseudo-value folds in bucket order
    "ext_jackknife" ->
      """WITH v AS (SELECT CAST(ROUND(value * 10000) AS BIGINT) AS v,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      % 10 AS bucket
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT bucket, COUNT(*) AS nb, CAST(SUM(v) AS BIGINT) AS sb
        |      FROM v GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS n, CAST(SUM(sb) AS BIGINT) AS s,
        |          COUNT(*) AS nbuck FROM b),
        |loo AS (SELECT bucket, nb,
        |          CAST(t.s - sb AS DOUBLE) / CAST((t.n - nb) * 10000 AS DOUBLE)
        |            AS loo_mean,
        |          t.n, t.s, t.nbuck
        |        FROM b, tot t),
        |mb AS (SELECT list_reduce(list(loo_mean ORDER BY bucket), (x, y) -> x + y)
        |         / MAX(nbuck) AS mbar FROM loo),
        |se AS (SELECT sqrt(CAST(MAX(l.nbuck) - 1 AS DOUBLE) / MAX(l.nbuck)
        |         * list_reduce(list((l.loo_mean - mb.mbar) * (l.loo_mean - mb.mbar)
        |             ORDER BY l.bucket), (x, y) -> x + y)) AS se
        |       FROM loo l, mb)
        |SELECT l.bucket, l.nb AS n_b, ROUND(l.loo_mean, 4) AS loo_mean,
        |  ROUND(CAST(l.s AS DOUBLE) / CAST(l.n * 10000 AS DOUBLE), 4) AS mean,
        |  ROUND(se.se, 6) AS jack_se, l.n
        |FROM loo l, se ORDER BY bucket""".stripMargin,

    // RBO@10 of the BM25 and cosine rankings: overlap counts over the
    // two <=10-row lists, geometric weights folded in depth order
    "ext_rbo" ->
      s"""WITH ${bm25Ctes(Bm25Terms, k1 = 1.2, b = 0.75)},
         |la0 AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra FROM bm),
         |la AS (SELECT doc_id, CAST(ra AS INT) AS ra FROM la0 WHERE ra <= 10),
         |$embCte,
         |qv AS (SELECT e FROM e WHERE vec_id = 0),
         |cs AS (SELECT v.vec_id, ${cosSql("v.e", "qv.e")} AS cos
         |       FROM e v, qv WHERE v.vec_id <> 0),
         |vb0 AS (SELECT vec_id AS doc_id,
         |  row_number() OVER (ORDER BY cos DESC, vec_id) AS rb FROM cs),
         |vb AS (SELECT doc_id, CAST(rb AS INT) AS rb FROM vb0 WHERE rb <= 10),
         |j AS (SELECT COALESCE(la.doc_id, vb.doc_id) AS doc_id, la.ra, vb.rb
         |      FROM la FULL OUTER JOIN vb ON la.doc_id = vb.doc_id),
         |grid AS (SELECT CAST(g.d AS BIGINT) AS d FROM unnest(range(1, 11)) AS g(d)),
         |xd AS (SELECT grid.d,
         |         CAST(COALESCE(SUM(CASE WHEN j.ra <= grid.d AND j.rb <= grid.d
         |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS overlap
         |       FROM grid LEFT JOIN j ON TRUE GROUP BY grid.d),
         |t AS (SELECT d, overlap,
         |        (1.0 - 0.9) * pow(0.9, CAST(d - 1 AS DOUBLE))
         |          * CAST(overlap AS DOUBLE) / CAST(d AS DOUBLE) AS term
         |      FROM xd),
         |r AS (SELECT list_reduce(list(term ORDER BY d), (x, y) -> x + y) AS rbo
         |      FROM t)
         |SELECT t.d, t.overlap, ROUND(t.term + SIGN(t.term) * 0.000000001, 4) AS term,
         |  ROUND(r.rbo + SIGN(r.rbo) * 0.000000001, 4) AS rbo
         |FROM t, r ORDER BY d""".stripMargin,

    // cross-source conductance: cut/min(vol, volAll-vol) per source over
    // the minhash pair graph — all exact integers, one division
    "ext_conductance" ->
      s"""WITH $minhashBandsCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |         FROM bands l JOIN bands r
         |           ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
         |deg AS (SELECT v, COUNT(*) AS d FROM (
         |          SELECT a AS v FROM cand UNION ALL SELECT b AS v FROM cand)
         |        GROUP BY v),
         |lab AS (SELECT doc_id AS v, source AS cluster FROM documents),
         |vol AS (SELECT lab.cluster, COUNT(*) AS n_nodes,
         |          CAST(SUM(deg.d) AS BIGINT) AS vol
         |        FROM lab JOIN deg USING (v) GROUP BY 1),
         |va AS (SELECT CAST(COUNT(*) * 2 AS BIGINT) AS vol_all FROM cand),
         |cut AS (SELECT cluster, COUNT(*) AS cut FROM (
         |          SELECT la.cluster FROM cand
         |            JOIN lab la ON la.v = cand.a JOIN lab lb ON lb.v = cand.b
         |            WHERE la.cluster <> lb.cluster
         |          UNION ALL
         |          SELECT lb.cluster FROM cand
         |            JOIN lab la ON la.v = cand.a JOIN lab lb ON lb.v = cand.b
         |            WHERE la.cluster <> lb.cluster)
         |        GROUP BY cluster)
         |SELECT vol.cluster, vol.n_nodes, vol.vol,
         |  CAST(COALESCE(cut.cut, 0) AS BIGINT) AS cut,
         |  CASE WHEN LEAST(vol.vol, va.vol_all - vol.vol) > 0 THEN
         |    ROUND(CAST(COALESCE(cut.cut, 0) AS DOUBLE)
         |      / LEAST(vol.vol, va.vol_all - vol.vol), 4)
         |  END AS phi
         |FROM vol LEFT JOIN cut USING (cluster), va
         |ORDER BY cluster""".stripMargin,

    // reliability diagram of the replayed probe: NTILE deciles over
    // (round(score,4), doc_id) — matching exactNtile's allocation — conf
    // through exact 1e-4 units, ECE folded in bin order
    "ext_probe_calibration" ->
      s"""${linearProbeWithBody(16)},
         |sc AS (SELECT f.doc_id, f.y, ROUND($probePred, 4) AS sc
         |       FROM f, w16 w),
         |bn AS (SELECT doc_id, y, sc,
         |         NTILE(10) OVER (ORDER BY sc, doc_id) AS bin,
         |         CAST(ROUND(sc * 10000) AS BIGINT) AS si
         |       FROM sc),
         |k AS (SELECT bin, COUNT(*) AS nb,
         |        CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
         |        CAST(SUM(si) AS BIGINT) AS ssum
         |      FROM bn GROUP BY bin),
         |kk AS (SELECT bin, nb, n_pos,
         |         CAST(ssum AS DOUBLE) / CAST(nb * 10000 AS DOUBLE) AS conf,
         |         CAST(n_pos AS DOUBLE) / CAST(nb AS DOUBLE) AS obs
         |       FROM k),
         |nt AS (SELECT CAST(SUM(nb) AS BIGINT) AS nt FROM kk),
         |ece AS (SELECT list_reduce(list(
         |          (CAST(nb AS DOUBLE) / CAST(nt.nt AS DOUBLE))
         |            * ABS(obs - conf) ORDER BY bin), (x, y) -> x + y) AS ece
         |        FROM kk, nt)
         |SELECT kk.bin, kk.nb AS n, kk.n_pos, ROUND(kk.conf, 4) AS conf,
         |  ROUND(kk.obs, 4) AS obs, ROUND(ece.ece, 4) AS ece
         |FROM kk, ece ORDER BY bin""".stripMargin,

    // hashing-trick collision census: md5-mod buckets, all integer counts
    "ext_hash_features" ->
      s"""WITH $toksCte,
         |occ AS (SELECT unnest(ts) AS tok FROM toks),
         |tc AS (SELECT tok, COUNT(*) AS c,
         |         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 1024 AS bucket
         |       FROM occ GROUP BY tok),
         |b AS (SELECT bucket, COUNT(*) AS nt, CAST(SUM(c) AS BIGINT) AS mass
         |      FROM tc GROUP BY bucket)
         |SELECT 1024 AS n_buckets, COUNT(*) AS n_used,
         |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN nt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS collided_buckets,
         |  CAST(SUM(CASE WHEN nt >= 2 THEN nt ELSE 0 END) AS BIGINT)
         |    AS collided_tokens,
         |  ROUND(CAST(SUM(CASE WHEN nt >= 2 THEN mass ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(mass) AS DOUBLE), 4) AS collided_mass_frac
         |FROM b""".stripMargin,

    // sparse more-like-this through the postings: probe doc 0's V-bounded
    // term weights joined onto the postings; full-vector norms; ranking
    // on the boundary-stabilized ROUND(cos,4) with doc-id tie-breaks
    "ext_sparse_cosine" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |bow AS (SELECT doc_id, tok, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
         |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM dt GROUP BY 1),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dt),
         |w AS (SELECT b.doc_id, b.tok,
         |        b.tf * ln(CAST(n.n AS DOUBLE) / d.df) AS tfidf
         |      FROM bow b JOIN df d USING (tok), n),
         |wq AS (SELECT tok, tfidf AS qw FROM w WHERE doc_id = 0),
         |nrm AS (SELECT doc_id, sqrt(SUM(tfidf * tfidf)) AS nrm
         |        FROM w GROUP BY doc_id),
         |qn AS (SELECT nrm AS qn FROM nrm WHERE doc_id = 0),
         |dots AS (SELECT w.doc_id, SUM(w.tfidf * wq.qw) AS dot
         |         FROM w JOIN wq USING (tok) WHERE w.doc_id <> 0
         |         GROUP BY w.doc_id),
         |c AS (SELECT d.doc_id, d.dot / (nrm.nrm * qn.qn) AS raw
         |      FROM dots d JOIN nrm USING (doc_id), qn)
         |SELECT doc_id,
         |  ROUND(raw + SIGN(raw) * 0.000000001, 4) AS cos
         |FROM c ORDER BY cos DESC, doc_id LIMIT 10""".stripMargin,

    // degree histogram over exact integers; Hill alpha folds c_d*ln d in
    // degree order (lns of exact integers only)
    "ext_degree_dist" ->
      s"""WITH $minhashBandsCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |         FROM bands l JOIN bands r
         |           ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
         |deg AS (SELECT v, COUNT(*) AS degree FROM (
         |          SELECT a AS v FROM cand UNION ALL SELECT b AS v FROM cand)
         |        GROUP BY v),
         |hist AS (SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree),
         |al AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS nn,
         |         list_reduce(list(n_nodes * ln(CAST(degree AS DOUBLE))
         |           ORDER BY degree), (x, y) -> x + y) AS slnd
         |       FROM hist)
         |SELECT h.degree, h.n_nodes,
         |  CASE WHEN al.slnd > 0.0
         |       THEN ROUND(1.0 + CAST(al.nn AS DOUBLE) / al.slnd, 4) END AS alpha
         |FROM hist h, al ORDER BY degree""".stripMargin,

    // assortativity: Pearson r of endpoint degrees over directed stubs,
    // every moment an exact integer
    "ext_assortativity" ->
      s"""WITH $minhashBandsCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |         FROM bands l JOIN bands r
         |           ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
         |deg AS (SELECT v, COUNT(*) AS d FROM (
         |          SELECT a AS v FROM cand UNION ALL SELECT b AS v FROM cand)
         |        GROUP BY v),
         |st AS (SELECT a AS src, b AS dst FROM cand
         |       UNION ALL SELECT b AS src, a AS dst FROM cand),
         |j AS (SELECT da.d AS dx, db.d AS dy
         |      FROM st JOIN deg da ON da.v = st.src JOIN deg db ON db.v = st.dst),
         |m AS (SELECT COUNT(*) AS m, CAST(SUM(dx) AS BIGINT) AS sx,
         |        CAST(SUM(dy) AS BIGINT) AS sy,
         |        CAST(SUM(dx * dy) AS BIGINT) AS sxy,
         |        CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         |        CAST(SUM(dy * dy) AS BIGINT) AS syy
         |      FROM j),
         |f AS (SELECT m // 2 AS n_edges,
         |        CAST(m * sxy - sx * sy AS DOUBLE) AS num,
         |        CAST(m * sxx - sx * sx AS DOUBLE) AS dx,
         |        CAST(m * syy - sy * sy AS DOUBLE) AS dy
         |      FROM m)
         |SELECT n_edges,
         |  CASE WHEN dx > 0.0 AND dy > 0.0
         |       THEN ROUND(num / (sqrt(dx) * sqrt(dy)), 4) END AS r
         |FROM f""".stripMargin,

    // chi-square homogeneity over the full variant x type grid; expected
    // counts are single divisions of exact integer products; the total
    // folds its cells in (variant, type) order
    "ext_chi2_homogeneity" ->
      """WITH g AS (SELECT CAST(user_id % 2 AS INT) AS variant, event_type,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT v.variant, t.event_type,
        |           CAST(COALESCE(g.c, 0) AS BIGINT) AS c
        |         FROM (SELECT DISTINCT variant FROM g) v
        |         CROSS JOIN (SELECT DISTINCT event_type FROM g) t
        |         LEFT JOIN g USING (variant, event_type)),
        |rt AS (SELECT variant, CAST(SUM(c) AS BIGINT) AS rt FROM grid GROUP BY 1),
        |ct AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS ct FROM grid GROUP BY 1),
        |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM grid),
        |k AS (SELECT grid.variant, grid.event_type, grid.c,
        |        CAST(rt.rt * ct.ct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS e
        |      FROM grid JOIN rt USING (variant) JOIN ct USING (event_type), nn),
        |kk AS (SELECT variant, event_type, c, e,
        |         (CAST(c AS DOUBLE) - e) * (CAST(c AS DOUBLE) - e) / e AS contrib
        |       FROM k),
        |tot AS (SELECT list_reduce(
        |          list(contrib ORDER BY variant, event_type), (x, y) -> x + y)
        |            AS chi2,
        |          (COUNT(DISTINCT variant) - 1) * (COUNT(DISTINCT event_type) - 1)
        |            AS dof
        |        FROM kk)
        |SELECT kk.variant, kk.event_type, kk.c, ROUND(kk.e, 4) AS expected,
        |  ROUND(kk.contrib, 4) AS contrib, ROUND(tot.chi2, 4) AS chi2,
        |  CAST(tot.dof AS BIGINT) AS dof
        |FROM kk, tot ORDER BY variant, event_type""".stripMargin,

    // engagement: each (user, active-day) covers its next 7/30 result
    // days via an integer explode (constant fan-out), one distinct count
    // per day — all exact integers, one division for stickiness
    "ext_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS ed
        |  FROM events),
        |b AS (SELECT MIN(ed) AS ed0, MAX(ed) AS ed1 FROM ud),
        |grid AS MATERIALIZED (
        |  SELECT CAST(g.d AS BIGINT) AS d FROM b, unnest(range(b.ed0, b.ed1 + 1)) AS g(d)),
        |dau AS (SELECT ed AS d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
        |c7 AS MATERIALIZED (
        |  SELECT CAST(g.d AS BIGINT) AS d, ud.user_id
        |  FROM ud, b, unnest(range(ud.ed, least(ud.ed + 7, b.ed1 + 1))) AS g(d)),
        |wau AS (SELECT d, COUNT(DISTINCT user_id) AS wau FROM c7 GROUP BY d),
        |c30 AS MATERIALIZED (
        |  SELECT CAST(g.d AS BIGINT) AS d, ud.user_id
        |  FROM ud, b, unnest(range(ud.ed, least(ud.ed + 30, b.ed1 + 1))) AS g(d)),
        |mau AS (SELECT d, COUNT(DISTINCT user_id) AS mau FROM c30 GROUP BY d)
        |SELECT grid.d AS epoch_day,
        |  CAST(COALESCE(dau.dau, 0) AS BIGINT) AS dau,
        |  CAST(COALESCE(wau.wau, 0) AS BIGINT) AS wau,
        |  CAST(COALESCE(mau.mau, 0) AS BIGINT) AS mau,
        |  CASE WHEN COALESCE(mau.mau, 0) > 0 THEN
        |    ROUND(CAST(COALESCE(dau.dau, 0) AS DOUBLE) / mau.mau, 4)
        |  END AS stickiness
        |FROM grid LEFT JOIN dau USING (d) LEFT JOIN wau USING (d)
        |LEFT JOIN mau USING (d)
        |ORDER BY epoch_day""".stripMargin,

    // seasonal-naive baseline: lag-24 and lag-1 forecasts over the
    // contiguous hour grid; MAE/RMSE from exact integer error sums
    "ext_seasonal_naive" ->
      s"""WITH hc AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type,
        |           GREATEST(CAST(epoch(MIN(h)) AS BIGINT) // 3600,
        |                    CAST(epoch(MAX(h)) AS BIGINT) // 3600
        |                      - ${Temporal.GridMaxSpanHours - 1}) AS eh0,
        |           CAST(epoch(MAX(h)) AS BIGINT) // 3600 AS eh1
        |         FROM hc GROUP BY event_type),
        |hours AS MATERIALIZED (
        |  SELECT s.event_type, CAST(g.eh AS BIGINT) AS eh
        |  FROM span s, unnest(range(s.eh0, s.eh1 + 1)) AS g(eh)),
        |hce AS (SELECT event_type, CAST(epoch(h) AS BIGINT) // 3600 AS eh, c
        |        FROM hc),
        |grid AS (
        |  SELECT hr.event_type, hr.eh, CAST(COALESCE(hce.c, 0) AS BIGINT) AS c
        |  FROM hours hr LEFT JOIN hce USING (event_type, eh)),
        |lagged AS (
        |  SELECT event_type, c,
        |    LAG(c, 24) OVER (PARTITION BY event_type ORDER BY eh) AS l24,
        |    LAG(c, 1) OVER (PARTITION BY event_type ORDER BY eh) AS l1
        |  FROM grid)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(ABS(c - l24)) AS DOUBLE) / COUNT(*), 4) AS mae24,
        |  ROUND(sqrt(CAST(SUM((c - l24) * (c - l24)) AS DOUBLE) / COUNT(*)), 4)
        |    AS rmse24,
        |  ROUND(CAST(SUM(ABS(c - l1)) AS DOUBLE) / COUNT(*), 4) AS mae1,
        |  ROUND(sqrt(CAST(SUM((c - l1) * (c - l1)) AS DOUBLE) / COUNT(*)), 4)
        |    AS rmse1
        |FROM lagged WHERE l24 IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // streaming quota gate parity: the batch row_number() twin
    "ext_stream_quota" ->
      """WITH x AS (SELECT event_id, user_id,
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS eh,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_id, user_id, eh AS epoch_hour
        |FROM x WHERE rn <= 1 ORDER BY event_id""".stripMargin,

    // burstiness b = (N*s2 - cf^2)/(N*cf): one division of exact integer
    // products, so the DESC ranking is engine-safe
    "ext_token_burstiness" ->
      s"""WITH $toksCte,
         |wt AS (SELECT doc_id, ts FROM toks WHERE len(ts) > 0),
         |nd AS (SELECT COUNT(*) AS nd FROM wt),
         |occ AS (SELECT doc_id, unnest(ts) AS tok FROM wt),
         |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM occ GROUP BY 1, 2),
         |m AS (SELECT tok, COUNT(*) AS df, CAST(SUM(c) AS BIGINT) AS cf,
         |        CAST(SUM(c * c) AS BIGINT) AS s2
         |      FROM c GROUP BY tok),
         |b AS (SELECT tok, df, cf,
         |        CAST(nd.nd * s2 - cf * cf AS DOUBLE)
         |          / CAST(nd.nd * cf AS DOUBLE) AS burstiness
         |      FROM m, nd WHERE df >= 5)
         |SELECT tok, df, cf, ROUND(burstiness, 4) AS burstiness
         |FROM b ORDER BY burstiness DESC, tok LIMIT 20""".stripMargin,

    // language-mix entropy in the exact-integer ln form; dominant
    // language by (count desc, lang) — a total order
    "ext_source_lang_mix" ->
      """WITH slc AS (SELECT source, lang, COUNT(*) AS c
        |             FROM documents GROUP BY 1, 2),
        |e AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
        |        COUNT(*) AS n_langs,
        |        ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) AS entropy
        |      FROM slc GROUP BY source),
        |t AS (SELECT source, lang AS top_lang, c AS top_c,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY c DESC, lang) AS rk
        |      FROM slc)
        |SELECT e.source, e.n_docs, e.n_langs, e.entropy, t.top_lang,
        |  ROUND(CAST(t.top_c AS DOUBLE) / e.n_docs, 4) AS top_share
        |FROM e JOIN t ON t.source = e.source AND t.rk = 1
        |ORDER BY e.source""".stripMargin,

    // traffic-mix entropy per hour: H = ln n - (sum c*ln c)/n, lns over
    // exact integer counts only
    "ext_hourly_entropy" ->
      """WITH hc AS (SELECT date_trunc('hour', ts) AS h, event_type,
        |              COUNT(*) AS c
        |            FROM events GROUP BY 1, 2)
        |SELECT h, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_types,
        |  ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) AS entropy
        |FROM hc GROUP BY h ORDER BY h""".stripMargin,

    // strict local maxima over the CONTIGUOUS hour grid (missing hours
    // = 0; boundary neighbors coalesce to -1) clearing mean + 2*sd from
    // exact integer moments
    "ext_peaks" ->
      s"""WITH hc AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type,
        |           GREATEST(CAST(epoch(MIN(h)) AS BIGINT) // 3600,
        |                    CAST(epoch(MAX(h)) AS BIGINT) // 3600
        |                      - ${Temporal.GridMaxSpanHours - 1}) AS eh0,
        |           CAST(epoch(MAX(h)) AS BIGINT) // 3600 AS eh1
        |         FROM hc GROUP BY event_type),
        |hours AS MATERIALIZED (
        |  SELECT s.event_type, CAST(g.eh AS BIGINT) AS eh
        |  FROM span s, unnest(range(s.eh0, s.eh1 + 1)) AS g(eh)),
        |hce AS (SELECT event_type, CAST(epoch(h) AS BIGINT) // 3600 AS eh, c
        |        FROM hc),
        |grid AS (
        |  SELECT hr.event_type, hr.eh, CAST(COALESCE(hce.c, 0) AS BIGINT) AS c
        |  FROM hours hr LEFT JOIN hce USING (event_type, eh)),
        |m AS (SELECT event_type, COUNT(*) AS nh, CAST(SUM(c) AS BIGINT) AS s1,
        |        CAST(SUM(c * c) AS BIGINT) AS s2
        |      FROM grid GROUP BY event_type),
        |ms AS (SELECT event_type,
        |        CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE) AS mean,
        |        sqrt(CAST(nh * s2 - s1 * s1 AS DOUBLE)
        |          / CAST(nh * nh AS DOUBLE)) AS sd
        |      FROM m),
        |nb AS (SELECT event_type, eh, c,
        |        COALESCE(LAG(c) OVER (PARTITION BY event_type ORDER BY eh), -1)
        |          AS prev,
        |        COALESCE(LEAD(c) OVER (PARTITION BY event_type ORDER BY eh), -1)
        |          AS next
        |      FROM grid)
        |SELECT nb.event_type, nb.eh AS epoch_hour, nb.c,
        |  ROUND(ms.mean + 2.0 * ms.sd, 4) AS threshold
        |FROM nb JOIN ms USING (event_type)
        |WHERE nb.c > nb.prev AND nb.c > nb.next
        |  AND CAST(nb.c AS DOUBLE) > ms.mean + 2.0 * ms.sd
        |ORDER BY event_type, epoch_hour""".stripMargin,

    // Tukey fences from the proven quantile_cont/percentile pairing; the
    // fence doubles are identical in both engines so strict counts match
    "ext_iqr_outliers" ->
      """WITH q AS (SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1),
        |f AS (SELECT event_type, q1, q3,
        |    q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM q)
        |SELECT e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(SUM(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  ROUND(MIN(f.q1), 4) AS q1, ROUND(MIN(f.q3), 4) AS q3,
        |  ROUND(MIN(f.lo), 4) AS fence_lo, ROUND(MIN(f.hi), 4) AS fence_hi
        |FROM events e JOIN f USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // two-proportion z: four exact longs into one closed form, identical
    // operation order both engines
    "ext_ab_test" ->
      """WITH v AS (SELECT CAST(user_id % 2 AS INT) AS variant, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |w AS (SELECT
        |  (SELECT n FROM v WHERE variant = 0) AS n0,
        |  (SELECT c FROM v WHERE variant = 0) AS c0,
        |  (SELECT n FROM v WHERE variant = 1) AS n1,
        |  (SELECT c FROM v WHERE variant = 1) AS c1),
        |z AS (SELECT n0, c0, n1, c1,
        |  CAST(c0 AS DOUBLE) / n0 AS p0, CAST(c1 AS DOUBLE) / n1 AS p1,
        |  CAST(c0 + c1 AS DOUBLE) / (n0 + n1) AS pp FROM w)
        |SELECT n0, c0, n1, c1,
        |  ROUND(p0, 4) AS rate0, ROUND(p1, 4) AS rate1,
        |  CASE WHEN pp > 0.0 AND pp < 1.0 THEN
        |    ROUND((p1 - p0) / sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1)), 4)
        |  END AS z
        |FROM z""".stripMargin,

    // XmR: moving ranges over 2-decimal integer values; limit doubles and
    // strict comparisons are engine-identical
    "ext_control_chart" ->
      """WITH v AS (SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v FROM events),
        |l AS (SELECT event_type, v,
        |    ABS(v - LAG(v) OVER (PARTITION BY event_type ORDER BY ts, event_id)) AS mr
        |  FROM v),
        |a AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv,
        |        CAST(SUM(mr) AS BIGINT) AS smr
        |      FROM l GROUP BY 1 HAVING COUNT(*) >= 2),
        |b AS (SELECT event_type, n,
        |    CAST(sv AS DOUBLE) / CAST(n * 100 AS DOUBLE) AS mean,
        |    CAST(smr AS DOUBLE) / CAST((n - 1) * 100 AS DOUBLE) AS mrbar
        |  FROM a),
        |c AS (SELECT event_type, n, mean, mrbar,
        |    mean + 2.66 * mrbar AS ucl, mean - 2.66 * mrbar AS lcl FROM b)
        |SELECT l.event_type, MAX(c.n) AS n, ROUND(MAX(c.mean), 4) AS mean,
        |  ROUND(MAX(c.mrbar), 4) AS mrbar,
        |  ROUND(MAX(c.ucl), 4) AS ucl, ROUND(MAX(c.lcl), 4) AS lcl,
        |  CAST(SUM(CASE WHEN CAST(l.v AS DOUBLE) / 100.0 > c.ucl THEN 1
        |                WHEN CAST(l.v AS DOUBLE) / 100.0 < c.lcl THEN 1
        |                ELSE 0 END) AS BIGINT) AS n_out
        |FROM l JOIN c USING (event_type) GROUP BY 1 ORDER BY 1""".stripMargin,

    // Markov stationary: same exact-count transition matrix (dangling
    // states self-loop), 25 unrolled power iterations with every fold in
    // ascending state order — the engine-identical double association
    "ext_markov_stationary" -> markovStationarySql,

    // symmetric complement of ext_domain_kl: same smoothed V×S grid, two
    // ln terms sharing one midpoint, StableRound on the shuffle-order sum
    "ext_js_divergence" ->
      """WITH occ AS (
        |  SELECT source AS stratum,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents
        |),
        |sc AS (SELECT stratum, tok, COUNT(*) AS c_s FROM occ GROUP BY 1, 2),
        |cc AS (SELECT tok, SUM(c_s) AS c_a FROM sc GROUP BY tok),
        |tot AS (SELECT SUM(c_a) AS n_a, COUNT(*) AS v FROM cc),
        |st AS (SELECT stratum, SUM(c_s) AS n_s FROM sc GROUP BY stratum),
        |grid AS (SELECT st.stratum, cc.tok, cc.c_a, st.n_s, tot.n_a, tot.v,
        |           COALESCE(sc.c_s, 0) AS c_s
        |         FROM cc CROSS JOIN st CROSS JOIN tot
        |         LEFT JOIN sc ON sc.stratum = st.stratum AND sc.tok = cc.tok),
        |terms AS (SELECT stratum,
        |  ((c_s + 1.0) / (n_s + v)) *
        |    ln(((c_s + 1.0) / (n_s + v))
        |       / ((((c_s + 1.0) / (n_s + v)) + ((c_a + 1.0) / (n_a + v))) / 2.0))
        |    * 0.5
        |  + ((c_a + 1.0) / (n_a + v)) *
        |    ln(((c_a + 1.0) / (n_a + v))
        |       / ((((c_s + 1.0) / (n_s + v)) + ((c_a + 1.0) / (n_a + v))) / 2.0))
        |    * 0.5 AS term
        |  FROM grid),
        |agg AS (SELECT stratum, SUM(term) AS v FROM terms GROUP BY stratum)
        |SELECT stratum, ROUND(v + SIGN(v) * 0.000000001, 4) AS jsd
        |FROM agg ORDER BY stratum""".stripMargin,

    // TV/BC/Hellinger: exact common-denominator TV, token-ordered
    // sqrt folds for the affinity
    "ext_dist_distances" ->
      """WITH occ AS (
        |  SELECT source AS stratum,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents
        |),
        |sc AS (SELECT stratum, tok, CAST(COUNT(*) AS BIGINT) AS c_s
        |       FROM occ GROUP BY 1, 2),
        |cc AS (SELECT tok, CAST(SUM(c_s) AS BIGINT) AS c_a FROM sc
        |       GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a FROM cc),
        |st AS (SELECT stratum, CAST(SUM(c_s) AS BIGINT) AS n_s FROM sc
        |       GROUP BY stratum),
        |grid AS (SELECT st.stratum, cc.tok, cc.c_a, st.n_s, tot.n_a,
        |           COALESCE(sc.c_s, 0) AS c_s
        |         FROM cc CROSS JOIN st CROSS JOIN tot
        |         LEFT JOIN sc ON sc.stratum = st.stratum AND sc.tok = cc.tok),
        |agg AS (SELECT stratum, n_s, n_a,
        |          CAST(SUM(ABS(c_s * n_a - c_a * n_s)) AS BIGINT) AS tvnum,
        |          list_reduce(list(sqrt(CAST(c_s * c_a AS DOUBLE))
        |            ORDER BY tok), (a, b) -> a + b) AS sbc
        |        FROM grid GROUP BY 1, 2, 3)
        |SELECT stratum,
        |  ROUND(CAST(tvnum AS DOUBLE) / CAST(n_s * n_a * 2 AS DOUBLE), 4) AS tv,
        |  ROUND(sbc / sqrt(CAST(n_s * n_a AS DOUBLE)), 4) AS bhattacharyya,
        |  ROUND(sqrt(GREATEST(1.0 - sbc / sqrt(CAST(n_s * n_a AS DOUBLE)), 0.0)),
        |    4) AS hellinger
        |FROM agg ORDER BY stratum""".stripMargin,

    // phrase search: top bigram by (count desc, phrase), occurrences via
    // the positional self-join — 1-based positions both sides
    "ext_phrase_search" ->
      s"""WITH $toksCte,
         |bi AS (SELECT unnest(list_transform(range(1, len(ts)),
         |         i -> ts[i] || ' ' || ts[i+1])) AS sh
         |       FROM toks WHERE len(ts) >= 2),
         |top AS (SELECT sh AS phrase FROM (
         |          SELECT sh, COUNT(*) AS c FROM bi GROUP BY sh)
         |        ORDER BY c DESC, sh LIMIT 1),
         |dt AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ts[i] AS tok
         |       FROM toks, unnest(range(1, len(ts) + 1)) AS u(i))
         |SELECT a.doc_id, a.pos, top.phrase
         |FROM dt a JOIN dt b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1, top
         |WHERE a.tok || ' ' || b.tok = top.phrase
         |ORDER BY a.doc_id, a.pos""".stripMargin,

    // per-node triangle credit: each ordered (a<b<c) closure credits its
    // three corners; lcc = 2*tri/(d*(d-1)) — integer counts, one division
    "ext_clustering_coef" ->
      s"""WITH $minhashBandsCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |         FROM bands l JOIN bands r
         |           ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
         |deg AS (SELECT v, COUNT(*) AS degree FROM (
         |          SELECT a AS v FROM cand UNION ALL SELECT b AS v FROM cand)
         |        GROUP BY v),
         |tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |        FROM cand e1 JOIN cand e2 ON e1.b = e2.a
         |        JOIN cand e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tv AS (SELECT v, COUNT(*) AS n_tri FROM (
         |         SELECT a AS v FROM tri UNION ALL SELECT b AS v FROM tri
         |         UNION ALL SELECT c AS v FROM tri)
         |       GROUP BY v)
         |SELECT deg.v, deg.degree,
         |  CAST(COALESCE(tv.n_tri, 0) AS BIGINT) AS n_tri,
         |  ROUND(2.0 * COALESCE(tv.n_tri, 0)
         |    / CAST(deg.degree * (deg.degree - 1) AS DOUBLE), 4) AS lcc
         |FROM deg LEFT JOIN tv USING (v)
         |WHERE deg.degree >= 2 ORDER BY v""".stripMargin,

    // CCNet tertiles: rank cuts are exact integer comparisons (rn*3 vs n)
    // over (ROUND(nll,4), doc_id); the bucket mean goes through exact
    // integer 1e-4 units so no float accumulation order enters the output
    "ext_ppl_buckets" ->
      s"""WITH $toksCte,
         |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
         |         i -> ts[i] || ' ' || ts[i+1])) AS sh
         |       FROM toks WHERE len(ts) >= 2),
         |bc AS (SELECT sh, COUNT(*) AS c FROM bi GROUP BY sh),
         |tot AS (SELECT string_split(sh, ' ')[1] AS w1, SUM(c) AS n1 FROM bc GROUP BY 1),
         |lm AS (SELECT sh, CAST(c AS DOUBLE) / n1 AS p
         |       FROM bc JOIN tot ON string_split(bc.sh, ' ')[1] = tot.w1),
         |nll AS (SELECT doc_id, ROUND(-AVG(ln(p)), 4) AS nll
         |        FROM bi JOIN lm USING (sh) GROUP BY doc_id),
         |r AS (SELECT d.source, nll.nll,
         |        CAST(ROUND(nll.nll * 10000) AS BIGINT) AS inll,
         |        ROW_NUMBER() OVER (PARTITION BY d.source
         |          ORDER BY nll.nll, nll.doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY d.source) AS n
         |      FROM nll JOIN documents d USING (doc_id)),
         |b AS (SELECT source, nll, inll,
         |        CASE WHEN rn * 3 <= n THEN 'head'
         |             WHEN rn * 3 <= n * 2 THEN 'middle'
         |             ELSE 'tail' END AS bucket
         |      FROM r)
         |SELECT source, bucket, COUNT(*) AS n_docs,
         |  ROUND(MIN(nll), 4) AS nll_min, ROUND(MAX(nll), 4) AS nll_max,
         |  ROUND(CAST(SUM(inll) AS DOUBLE) / CAST(COUNT(*) * 10000 AS DOUBLE), 4)
         |    AS nll_mean
         |FROM b GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin,

    // KS via explicit step functions: per-type cumulative over the full
    // distinct-value grid vs the pooled cumulative; sup at a jump point,
    // ties to the smallest value. Exact-integer cumulative counts — the
    // F ratios divide the same longs the Spark counters hold.
    "ext_ks_drift" ->
      """WITH e AS (
        |  SELECT event_type AS t, value AS v FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL
        |),
        |tot AS (SELECT t, COUNT(*) AS n_t FROM e GROUP BY t),
        |nn AS (SELECT COUNT(*) AS n FROM e),
        |vc AS (SELECT v, t, COUNT(*) AS c FROM e GROUP BY v, t),
        |va AS (SELECT v, COUNT(*) AS c FROM e GROUP BY v),
        |call AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum_all FROM va),
        |grid AS (SELECT va.v, tot.t FROM va, tot),
        |cumt AS (
        |  SELECT g.v, g.t,
        |    SUM(COALESCE(vc.c, 0)) OVER (PARTITION BY g.t ORDER BY g.v) AS cum_t
        |  FROM grid g LEFT JOIN vc ON vc.v = g.v AND vc.t = g.t
        |),
        |diffs AS (
        |  SELECT c.t, c.v,
        |    ABS(CAST(c.cum_t AS DOUBLE) / tot.n_t
        |        - CAST(a.cum_all AS DOUBLE) / nn.n) AS d
        |  FROM cumt c JOIN call a ON a.v = c.v JOIN tot ON tot.t = c.t, nn
        |),
        |best AS (
        |  SELECT t, v, d,
        |    ROW_NUMBER() OVER (PARTITION BY t ORDER BY d DESC, v ASC) AS rn
        |  FROM diffs
        |)
        |SELECT t AS event_type, ROUND(d, 4) AS ks, v AS at_value
        |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin,

    // direct column compare (the engine compares md5 fingerprints; only
    // the classification must agree, and both are injective per engine)
    "ext_table_diff" ->
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |o AS (SELECT * FROM e WHERE event_id % 10 <> 0),
        |n AS (SELECT event_id, event_type,
        |        CASE WHEN event_id % 7 = 0 THEN value + 1.0 ELSE value END AS value
        |      FROM e WHERE event_id % 13 <> 0),
        |j AS (
        |  SELECT COALESCE(o.event_id, n.event_id) AS event_id,
        |    CASE WHEN o.event_id IS NULL THEN 'added'
        |         WHEN n.event_id IS NULL THEN 'removed'
        |         WHEN o.event_type IS DISTINCT FROM n.event_type
        |           OR o.value IS DISTINCT FROM n.value THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM o FULL OUTER JOIN n ON o.event_id = n.event_id)
        |SELECT event_id, status FROM j WHERE status <> 'unchanged'
        |ORDER BY event_id""".stripMargin,

    // pooled NTILE deciles (== the engine's two-pass exactNtile), smoothed
    // shares, PSI folded in bin order via list_reduce (the same left fold
    // Spark's aggregate HOF does — deterministic double association)
    "ext_psi_drift" ->
      """WITH e AS (SELECT event_type, value, event_id FROM events
        |           WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |        NTILE(10) OVER (ORDER BY value, event_id) AS bin FROM e),
        |c AS (SELECT event_type, bin, COUNT(*) AS c FROM b GROUP BY event_type, bin),
        |grid AS (SELECT ty.event_type, gs.bin
        |         FROM (SELECT DISTINCT event_type FROM e) ty,
        |              (SELECT unnest(range(1, 11)) AS bin) gs),
        |f AS (SELECT g.event_type, g.bin, COALESCE(c.c, 0) AS c
        |      FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.bin = g.bin),
        |ng AS (SELECT event_type, SUM(c) AS n_g FROM f GROUP BY event_type),
        |pool AS (SELECT bin, SUM(c) AS c_b FROM f GROUP BY bin),
        |nn AS (SELECT COUNT(*) AS n FROM e),
        |j AS (SELECT f.event_type, f.bin, f.c,
        |        (CAST(f.c AS DOUBLE) + 0.5) / (CAST(ng.n_g AS DOUBLE) + 5.0) AS p,
        |        (CAST(pool.c_b AS DOUBLE) + 0.5) / (CAST(nn.n AS DOUBLE) + 5.0) AS q
        |      FROM f JOIN ng USING (event_type) JOIN pool USING (bin), nn),
        |k AS (SELECT event_type, bin, c, p, q, (p - q) * ln(p / q) AS contrib FROM j),
        |psi AS (SELECT event_type,
        |          list_reduce(list(contrib ORDER BY bin), (a, b) -> a + b) AS psi
        |        FROM k GROUP BY event_type)
        |SELECT k.event_type, k.bin, k.c, ROUND(k.p, 4) AS share,
        |  ROUND(k.q, 4) AS pool_share, ROUND(k.contrib, 4) AS contrib,
        |  ROUND(psi.psi, 4) AS psi
        |FROM k JOIN psi USING (event_type)
        |ORDER BY event_type, bin""".stripMargin,

    // ordered-path triangle closure over the minhash candidate pairs;
    // integer census, GCC the single double
    "ext_triangles" ->
      s"""WITH $minhashBandsCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |         FROM bands l JOIN bands r
         |           ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
         |deg AS (SELECT v, COUNT(*) AS d FROM (
         |          SELECT a AS v FROM cand UNION ALL SELECT b AS v FROM cand)
         |        GROUP BY v),
         |w AS (SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg),
         |t AS (SELECT COUNT(*) AS n_triangles
         |      FROM cand e1 JOIN cand e2 ON e1.b = e2.a
         |      JOIN cand e3 ON e3.a = e1.a AND e3.b = e2.b),
         |n AS (SELECT COUNT(*) AS n_edges FROM cand)
         |SELECT n.n_edges, w.n_wedges, t.n_triangles,
         |  CASE WHEN w.n_wedges > 0
         |       THEN ROUND(3.0 * CAST(t.n_triangles AS DOUBLE) / w.n_wedges, 4)
         |       ELSE NULL END AS gcc
         |FROM n, w, t ORDER BY n_edges""".stripMargin,

    // interpolated KN: one bigram count table regrouped three ways;
    // continuation distribution add-one-floored over bigram types;
    // COALESCE before GREATEST (NULL semantics differ across engines)
    "ext_kneser_ney" ->
      """WITH tl AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents WHERE lang IN ('en', 'zh')
        |),
        |tb AS (SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2 FROM (
        |  SELECT unnest(list_transform(range(1, len(ts)),
        |    i -> ts[i] || ' ' || ts[i+1])) AS g
        |  FROM tl WHERE lang = 'en' AND len(ts) >= 2)),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM tb GROUP BY w1, w2),
        |c1 AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1fw FROM c12 GROUP BY w1),
        |cont AS (SELECT w2, COUNT(*) AS n1pw FROM c12 GROUP BY w2),
        |sc AS (SELECT (SELECT COUNT(*) FROM c12) AS b,
        |              (SELECT COUNT(DISTINCT w) FROM
        |                 (SELECT unnest(ts) AS w FROM tl WHERE lang = 'en')) AS v),
        |ev AS (SELECT doc_id, string_split(g, ' ')[1] AS ew1,
        |              string_split(g, ' ')[2] AS ew2 FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |    i -> ts[i] || ' ' || ts[i+1])) AS g
        |  FROM tl WHERE lang = 'zh' AND len(ts) >= 2)),
        |probs AS (
        |  SELECT e.doc_id,
        |    CASE WHEN c1.c1 IS NOT NULL THEN
        |      (GREATEST(CAST(COALESCE(c12.c12, 0) AS DOUBLE) - 0.75, 0.0)
        |        + 0.75 * CAST(c1.n1fw AS DOUBLE)
        |          * ((COALESCE(cont.n1pw, 0) + 1) / (sc.b + sc.v + 1)))
        |      / CAST(c1.c1 AS DOUBLE)
        |    ELSE (COALESCE(cont.n1pw, 0) + 1) / (sc.b + sc.v + 1) END AS p
        |  FROM ev e
        |  LEFT JOIN c12 ON c12.w1 = e.ew1 AND c12.w2 = e.ew2
        |  LEFT JOIN c1 ON c1.w1 = e.ew1
        |  LEFT JOIN cont ON cont.w2 = e.ew2, sc)
        |SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(-ln(p)), 4) AS nll
        |FROM probs GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DuckDB's jaro_winkler_similarity is the byte-level reference the
    // native expression was built to match (JaroWinklerSpec pins ulp
    // equality); rank on the raw double, round only the output
    "ext_jaro_winkler" ->
      """WITH b AS (SELECT doc_id, substr(text, 1, 8) AS bk,
        |                  substr(text, 1, 128) AS pre FROM documents)
        |SELECT doc_a, doc_b,
        |  FLOOR(raw * 10000.0 + 0.5) / 10000.0 AS jw FROM (
        |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |         jaro_winkler_similarity(l.pre, r.pre) AS raw
        |  FROM b l JOIN b r ON l.bk = r.bk AND l.doc_id < r.doc_id
        |  ORDER BY raw DESC, doc_a, doc_b LIMIT 10)
        |ORDER BY raw DESC, doc_a, doc_b""".stripMargin,

    // Spearman: doubled average ranks (2·rank + tiecount − 1, exact
    // integers), HUGEINT moments, doubles only in the final ratio
    "ext_spearman" ->
      """WITH t AS (SELECT source AS grp, n_chars AS x,
        |    len(list_distinct(list_filter(string_split(text, ' '),
        |      t -> t <> ''))) AS y
        |  FROM documents),
        |r AS (SELECT grp,
        |    2 * RANK() OVER (PARTITION BY grp ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY grp, x) - 1 AS u,
        |    2 * RANK() OVER (PARTITION BY grp ORDER BY y)
        |      + COUNT(*) OVER (PARTITION BY grp, y) - 1 AS v
        |  FROM t),
        |m AS (SELECT grp, COUNT(*) AS n,
        |    SUM(CAST(u AS HUGEINT)) AS su, SUM(CAST(v AS HUGEINT)) AS sv,
        |    SUM(CAST(u AS HUGEINT) * u) AS suu,
        |    SUM(CAST(v AS HUGEINT) * v) AS svv,
        |    SUM(CAST(u AS HUGEINT) * v) AS suv
        |  FROM r GROUP BY grp)
        |SELECT grp AS source, CAST(n AS BIGINT) AS n,
        |  ROUND(CASE WHEN n * suu - su * su > 0 AND n * svv - sv * sv > 0 THEN
        |    CAST(n * suv - su * sv AS DOUBLE) /
        |      sqrt(CAST(n * suu - su * su AS DOUBLE)
        |        * CAST(n * svv - sv * sv AS DOUBLE)) END, 4) + 0.0 AS rho
        |FROM m ORDER BY source""".stripMargin,

    // Mann–Whitney from per-distinct-value counts: 2U_a is an exact
    // integer fold over the cumulative count of the other group
    "ext_mann_whitney" ->
      """WITH vc AS (SELECT value AS v,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('click', 'view')
        |    AND value IS NOT NULL GROUP BY value),
        |r AS (SELECT v, ca, cb, SUM(cb) OVER (ORDER BY v) AS cumb FROM vc),
        |a AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(cb) AS BIGINT) AS n_b,
        |    SUM(CAST(ca AS HUGEINT) * (2 * (cumb - cb) + cb)) AS u2,
        |    SUM(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb) - (ca + cb))
        |      AS ties
        |  FROM r)
        |SELECT n_a, n_b, CAST(u2 AS BIGINT) AS u2_a,
        |  ROUND(CAST(u2 AS DOUBLE) / 2.0, 1) AS u_a,
        |  ROUND((CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
        |    / (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
        |      ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) /
        |        (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1.0))))),
        |    4) + 0.0 AS z
        |FROM a""".stripMargin,

    // Kruskal–Wallis: global doubled tied ranks (2·cum − c + 1), HUGEINT
    // rank sums, the H fold in category order
    "ext_kruskal_wallis" ->
      """WITH rows0 AS (SELECT event_type AS grp, value AS v FROM events
        |  WHERE value IS NOT NULL),
        |vc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM rows0 GROUP BY v),
        |r2 AS (SELECT v, c, 2 * SUM(c) OVER (ORDER BY v) - c + 1 AS r2 FROM vc),
        |gv AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS cg FROM rows0
        |  GROUP BY grp, v),
        |g AS (SELECT grp, CAST(SUM(cg) AS BIGINT) AS n,
        |    SUM(CAST(cg AS HUGEINT) * r2.r2) AS r2sum
        |  FROM gv JOIN r2 USING (v) GROUP BY grp),
        |tt AS (SELECT SUM(CAST(c AS HUGEINT) * c * c - c) AS t,
        |    CAST(SUM(c) AS BIGINT) AS nn FROM vc),
        |terms AS (SELECT grp, n, r2sum,
        |    CAST(r2sum AS DOUBLE) * CAST(r2sum AS DOUBLE)
        |      / (4.0 * CAST(n AS DOUBLE)) AS term FROM g),
        |s AS (SELECT list_reduce(list(term ORDER BY grp), (a, b) -> a + b)
        |        AS s FROM terms)
        |SELECT t.grp AS event_type, t.n,
        |  ROUND(CAST(t.r2sum AS DOUBLE) / (2.0 * CAST(t.n AS DOUBLE)), 4)
        |    AS mean_rank,
        |  ROUND(12.0 / (CAST(tt.nn AS DOUBLE) * (CAST(tt.nn AS DOUBLE) + 1.0))
        |    * s.s - 3.0 * (CAST(tt.nn AS DOUBLE) + 1.0), 4) + 0.0 AS h,
        |  ROUND((12.0 / (CAST(tt.nn AS DOUBLE) * (CAST(tt.nn AS DOUBLE) + 1.0))
        |    * s.s - 3.0 * (CAST(tt.nn AS DOUBLE) + 1.0)) /
        |    (1.0 - CAST(tt.t AS DOUBLE) / (CAST(tt.nn AS DOUBLE)
        |      * CAST(tt.nn AS DOUBLE) * CAST(tt.nn AS DOUBLE)
        |      - CAST(tt.nn AS DOUBLE))), 4) + 0.0 AS h_c
        |FROM terms t, tt, s ORDER BY event_type""".stripMargin,

    // Kendall tau-b on the (hour, value-bucket) contingency grid: the
    // pair scan is cell×cell (domain-bounded), all counts HUGEINT-exact
    "ext_kendall_tau" ->
      """WITH b AS (SELECT hour(ts) AS i,
        |    CAST(ROUND(value * 100) AS BIGINT) // 1000 AS j FROM events),
        |cells AS (SELECT i, j, CAST(COUNT(*) AS HUGEINT) AS c FROM b
        |  GROUP BY i, j),
        |cd AS (SELECT
        |    SUM(CASE WHEN b.j > a.j THEN a.c * b.c ELSE 0 END) AS nc,
        |    SUM(CASE WHEN b.j < a.j THEN a.c * b.c ELSE 0 END) AS nd
        |  FROM cells a JOIN cells b ON b.i > a.i AND b.j <> a.j),
        |t1 AS (SELECT SUM(r * (r - 1)) AS t1x2 FROM
        |  (SELECT SUM(c) AS r FROM cells GROUP BY i)),
        |t2 AS (SELECT SUM(r * (r - 1)) AS t2x2 FROM
        |  (SELECT SUM(c) AS r FROM cells GROUP BY j)),
        |nn AS (SELECT SUM(c) AS n FROM cells)
        |SELECT CAST(nn.n AS BIGINT) AS n, CAST(cd.nc AS BIGINT) AS nc,
        |  CAST(cd.nd AS BIGINT) AS nd,
        |  ROUND(CAST(cd.nc - cd.nd AS DOUBLE) /
        |    sqrt((CAST(nn.n * (nn.n - 1) - t1.t1x2 AS DOUBLE) / 2.0) *
        |      (CAST(nn.n * (nn.n - 1) - t2.t2x2 AS DOUBLE) / 2.0)), 4) + 0.0
        |    AS tau_b
        |FROM cd, t1, t2, nn""".stripMargin,

    // NDCG/MRR/AP over the verified bm25 ranking: every ratio exact
    // integers, gains folded in rank order, ln(r+1)/ln 2 in both engines
    "ext_retrieval_eval" -> rankingEvalSql(Bm25Terms, 10, 2),

    // ERR@10: cascade-model fold over the same verified top list
    "ext_err" -> errSql(Bm25Terms, 10),

    // Holt–Winters: the ext_holt fold with a 26-element seasonal state
    "ext_holt_winters" -> hwSql(0.5, 0.25, 0.25, 24, 3),

    // Poisson bootstrap: md5-uniform deterministic weights, exact
    // integer replicate sums, quantile_cont/percentile CI pairing
    "ext_bootstrap_ci" -> bootstrapSql(50, "boot1"),

    // Markov removal-effect attribution: six unrolled 25-step
    // truncated-absorption chains, ascending-target folds
    "ext_markov_attribution" -> markovAttributionSql(
      Seq("click", "error", "signup", "view"), 25),

    // Cohen's d / Hedges' g: exact integer moments, one ratio per pair
    "ext_effect_sizes" ->
      """WITH g AS (SELECT event_type AS t, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS q
        |  FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
        |        FROM events WHERE value IS NOT NULL) GROUP BY 1),
        |p AS (SELECT a.t AS type_a, b.t AS type_b, a.n AS na, b.n AS nb,
        |        a.s AS sa, b.s AS sb, a.q AS qa, b.q AS qb
        |      FROM g a JOIN g b ON a.t < b.t)
        |SELECT type_a, type_b, na, nb,
        |  ROUND((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100.0, 4) AS mean_diff,
        |  CASE WHEN CAST(na * qa - sa * sa AS DOUBLE)
        |         + CAST(nb * qb - sb * sb AS DOUBLE) > 0.0 AND na + nb > 2
        |  THEN ROUND((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |    / sqrt((CAST(na * qa - sa * sa AS DOUBLE) / CAST(na AS DOUBLE)
        |        + CAST(nb * qb - sb * sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      / CAST(na + nb - 2 AS DOUBLE)), 4) END AS cohens_d,
        |  CASE WHEN CAST(na * qa - sa * sa AS DOUBLE)
        |         + CAST(nb * qb - sb * sb AS DOUBLE) > 0.0 AND na + nb > 2
        |  THEN ROUND(((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |    / sqrt((CAST(na * qa - sa * sa AS DOUBLE) / CAST(na AS DOUBLE)
        |        + CAST(nb * qb - sb * sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      / CAST(na + nb - 2 AS DOUBLE)))
        |    * (1.0 - 3.0 / CAST((na + nb) * 4 - 9 AS DOUBLE)), 4)
        |  END AS hedges_g
        |FROM p ORDER BY type_a, type_b""".stripMargin,

    // Gries DP dispersion: exact common-denominator numerators,
    // rank on the rounded dp
    "ext_token_dispersion" ->
      """WITH occ AS (
        |  SELECT source AS stratum,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |sc AS (SELECT stratum, tok, CAST(COUNT(*) AS BIGINT) AS c_s
        |       FROM occ GROUP BY 1, 2),
        |cc AS (SELECT tok, CAST(SUM(c_s) AS BIGINT) AS f FROM sc GROUP BY tok),
        |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS n FROM cc),
        |st AS (SELECT stratum, CAST(SUM(c_s) AS BIGINT) AS n_s FROM sc
        |       GROUP BY stratum),
        |grid AS (SELECT st.stratum, cc.tok, cc.f, st.n_s, tot.n,
        |           COALESCE(sc.c_s, 0) AS c_s
        |         FROM cc CROSS JOIN st CROSS JOIN tot
        |         LEFT JOIN sc ON sc.stratum = st.stratum AND sc.tok = cc.tok),
        |d AS (SELECT tok, f,
        |        ROUND(CAST(SUM(ABS(c_s * n - n_s * f)) AS DOUBLE)
        |          / CAST(f * n * 2 AS DOUBLE), 4) AS dp
        |      FROM grid GROUP BY tok, f, n)
        |SELECT tok, f, dp FROM d ORDER BY dp DESC, tok LIMIT 20""".stripMargin,

    // Dunning G² keyness: every ln argument an exact integer
    "ext_keyness" ->
      """WITH occ AS (
        |  SELECT CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS t,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |tc AS (SELECT tok,
        |         CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |         CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b
        |       FROM occ GROUP BY tok),
        |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS nt,
        |          CAST(SUM(b) AS BIGINT) AS nr FROM tc),
        |g AS (SELECT tok, a, b,
        |        CASE WHEN a * nr >= b * nt THEN 1 ELSE -1 END AS direction,
        |        ROUND(2.0 * (
        |          (CASE WHEN a > 0 THEN CAST(a AS DOUBLE) * ln(a) ELSE 0.0 END)
        |          + (CASE WHEN b > 0 THEN CAST(b AS DOUBLE) * ln(b) ELSE 0.0 END)
        |          + (CASE WHEN nt - a > 0 THEN CAST(nt - a AS DOUBLE)
        |               * ln(nt - a) ELSE 0.0 END)
        |          + (CASE WHEN nr - b > 0 THEN CAST(nr - b AS DOUBLE)
        |               * ln(nr - b) ELSE 0.0 END)
        |          - (CASE WHEN a + b > 0 THEN CAST(a + b AS DOUBLE)
        |               * ln(a + b) ELSE 0.0 END)
        |          - (CASE WHEN nt + nr - a - b > 0
        |               THEN CAST(nt + nr - a - b AS DOUBLE)
        |                 * ln(nt + nr - a - b) ELSE 0.0 END)
        |          - (CASE WHEN nt > 0 THEN CAST(nt AS DOUBLE) * ln(nt)
        |               ELSE 0.0 END)
        |          - (CASE WHEN nr > 0 THEN CAST(nr AS DOUBLE) * ln(nr)
        |               ELSE 0.0 END)
        |          + (CASE WHEN nt + nr > 0 THEN CAST(nt + nr AS DOUBLE)
        |               * ln(nt + nr) ELSE 0.0 END)), 4) AS g2
        |      FROM tc, tot)
        |SELECT tok, a, b, direction, g2 FROM g
        |ORDER BY g2 DESC, tok LIMIT 20""".stripMargin,

    // Cramér–von Mises: integrated squared ECDF gap, HUGEINT/DECIMAL U
    "ext_cvm" ->
      """WITH v AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
        |    CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |dv AS (SELECT v,
        |         CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |         CAST(SUM(y) AS BIGINT) AS b
        |       FROM v GROUP BY v),
        |cum AS (SELECT v, a, b, SUM(a) OVER (ORDER BY v) AS ca,
        |          SUM(b) OVER (ORDER BY v) AS cb
        |        FROM dv),
        |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
        |          CAST(SUM(b) AS BIGINT) AS nb FROM dv),
        |s AS (SELECT tot.na, tot.nb,
        |        SUM(CAST(a + b AS HUGEINT)
        |          * CAST(ca * tot.nb - cb * tot.na AS HUGEINT)
        |          * CAST(ca * tot.nb - cb * tot.na AS HUGEINT)) AS u
        |      FROM cum, tot GROUP BY 1, 2)
        |SELECT na, nb,
        |  ROUND(CAST(u AS DOUBLE)
        |    / CAST((na + nb) * (na + nb) AS DOUBLE)
        |    / CAST(na * nb AS DOUBLE), 4) AS cvm_t
        |FROM s""".stripMargin,

    // energy distance: exact adjacent-gap pairwise-|Δ| sums, three
    // final divisions
    "ext_energy_distance" ->
      """WITH v AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
        |    CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |dv AS (SELECT v,
        |         CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |         CAST(SUM(y) AS BIGINT) AS b
        |       FROM v GROUP BY v),
        |cum AS (SELECT v, SUM(a) OVER (ORDER BY v) AS ca,
        |          SUM(b) OVER (ORDER BY v) AS cb,
        |          LEAD(v) OVER (ORDER BY v) - v AS gap
        |        FROM dv),
        |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
        |          CAST(SUM(b) AS BIGINT) AS nb FROM dv),
        |s AS (SELECT tot.na, tot.nb,
        |        CAST(SUM(gap * (ca * (tot.nb - cb) + cb * (tot.na - ca)))
        |          AS BIGINT) AS sxy,
        |        CAST(SUM(gap * ca * (tot.na - ca) * 2) AS BIGINT) AS sxx,
        |        CAST(SUM(gap * cb * (tot.nb - cb) * 2) AS BIGINT) AS syy
        |      FROM cum, tot WHERE gap IS NOT NULL GROUP BY 1, 2)
        |SELECT na, nb,
        |  ROUND(CAST(sxy AS DOUBLE) / CAST(na * nb AS DOUBLE) / 100.0, 4)
        |    AS e_xy,
        |  ROUND(CAST(sxx AS DOUBLE) / CAST(na * na AS DOUBLE) / 100.0, 4)
        |    AS e_xx,
        |  ROUND(CAST(syy AS DOUBLE) / CAST(nb * nb AS DOUBLE) / 100.0, 4)
        |    AS e_yy,
        |  ROUND(sqrt(GREATEST(
        |    2.0 * (CAST(sxy AS DOUBLE) / CAST(na * nb AS DOUBLE) / 100.0)
        |    - CAST(sxx AS DOUBLE) / CAST(na * na AS DOUBLE) / 100.0
        |    - CAST(syy AS DOUBLE) / CAST(nb * nb AS DOUBLE) / 100.0, 0.0)), 4)
        |    AS energy_distance
        |FROM s""".stripMargin,

    // hour-of-day profile cosine: exact integer dots/norms, one sqrt each
    "ext_profile_cosine" ->
      """WITH c AS (SELECT event_type, hour(ts) AS hod,
        |             CAST(COUNT(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1, 2),
        |n AS (SELECT event_type, CAST(SUM(c * c) AS BIGINT) AS n2 FROM c
        |      GROUP BY 1),
        |dp AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(SUM(a.c * b.c) AS BIGINT) AS dp
        |       FROM c a JOIN c b
        |         ON a.hod = b.hod AND a.event_type < b.event_type
        |       GROUP BY 1, 2)
        |SELECT dp.type_a, dp.type_b,
        |  ROUND(CAST(dp.dp AS DOUBLE)
        |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4)
        |    AS cosine
        |FROM dp JOIN n na ON na.event_type = dp.type_a
        |JOIN n nb ON nb.event_type = dp.type_b
        |ORDER BY type_a, type_b""".stripMargin,

    // Pearson corr matrix: DECIMAL/HUGEINT raw moments, one scan
    "ext_corr_matrix" -> corrMatrixSql(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),

    // ROUGE-1/2 pair grades: exact multiset n-gram overlaps over the
    // minhash candidate pairs; F1 = 2·ov/(la+lb) exact
    "ext_rouge" ->
      s"""WITH $minhashBandsCtes,
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |         FROM bands l JOIN bands r
         |           ON l.band = r.band AND l.key = r.key
         |             AND l.doc_id < r.doc_id),
         |tkn AS (SELECT doc_id, ts FROM toks WHERE len(ts) > 0),
         |g1c AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |          SELECT doc_id, unnest(ts) AS g FROM tkn) GROUP BY 1, 2),
         |g2c AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |          SELECT doc_id, unnest(list_transform(range(1, len(ts)),
         |            i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]))
         |            AS g
         |          FROM tkn WHERE len(ts) > 1) GROUP BY 1, 2),
         |lens AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS l1,
         |           CAST(GREATEST(len(ts) - 1, 0) AS BIGINT) AS l2 FROM tkn),
         |o1 AS (SELECT c.doc_a, c.doc_b,
         |         CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS ov1
         |       FROM cand c JOIN g1c a ON a.doc_id = c.doc_a
         |       JOIN g1c b ON b.doc_id = c.doc_b AND b.g = a.g
         |       GROUP BY 1, 2),
         |o2 AS (SELECT c.doc_a, c.doc_b,
         |         CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS ov2
         |       FROM cand c JOIN g2c a ON a.doc_id = c.doc_a
         |       JOIN g2c b ON b.doc_id = c.doc_b AND b.g = a.g
         |       GROUP BY 1, 2),
         |f AS (SELECT c.doc_a, c.doc_b,
         |        COALESCE(o1.ov1, 0) AS ov1, COALESCE(o2.ov2, 0) AS ov2,
         |        la.l1 AS l1a, la.l2 AS l2a, lb.l1 AS l1b, lb.l2 AS l2b
         |      FROM cand c
         |      LEFT JOIN o1 ON o1.doc_a = c.doc_a AND o1.doc_b = c.doc_b
         |      LEFT JOIN o2 ON o2.doc_a = c.doc_a AND o2.doc_b = c.doc_b
         |      JOIN lens la ON la.doc_id = c.doc_a
         |      JOIN lens lb ON lb.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, ov1, ov2,
         |  ROUND(CASE WHEN l1b > 0 THEN CAST(ov1 AS DOUBLE) / CAST(l1b AS DOUBLE)
         |        ELSE 0.0 END, 4) AS r1_p,
         |  ROUND(CASE WHEN l1a > 0 THEN CAST(ov1 AS DOUBLE) / CAST(l1a AS DOUBLE)
         |        ELSE 0.0 END, 4) AS r1_r,
         |  ROUND(CASE WHEN l1a + l1b > 0 THEN CAST(ov1 * 2 AS DOUBLE)
         |        / CAST(l1a + l1b AS DOUBLE) ELSE 0.0 END, 4) AS r1_f,
         |  ROUND(CASE WHEN l2b > 0 THEN CAST(ov2 AS DOUBLE) / CAST(l2b AS DOUBLE)
         |        ELSE 0.0 END, 4) AS r2_p,
         |  ROUND(CASE WHEN l2a > 0 THEN CAST(ov2 AS DOUBLE) / CAST(l2a AS DOUBLE)
         |        ELSE 0.0 END, 4) AS r2_r,
         |  ROUND(CASE WHEN l2a + l2b > 0 THEN CAST(ov2 * 2 AS DOUBLE)
         |        / CAST(l2a + l2b AS DOUBLE) ELSE 0.0 END, 4) AS r2_f
         |FROM f ORDER BY doc_a, doc_b""".stripMargin,

    // gains/lift from the shared probe: asc NTILE + 11−bin remap keeps
    // bucket membership engine-identical; cumulative counts exact
    "ext_lift_gains" ->
      s"""${linearProbeWithBody(16)},
         |sc AS (SELECT f.doc_id, f.y, ROUND($probePred, 4) AS sc
         |       FROM f, w16 w),
         |bn AS (SELECT y, 11 - NTILE(10) OVER (ORDER BY sc, doc_id) AS decile
         |       FROM sc),
         |k AS (SELECT decile, COUNT(*) AS n,
         |        CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos
         |      FROM bn GROUP BY decile),
         |c AS (SELECT decile, n, pos,
         |        CAST(SUM(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
         |        CAST(SUM(pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
         |      FROM k),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
         |        CAST(SUM(pos) AS BIGINT) AS pt FROM k)
         |SELECT c.decile, c.n, c.pos, c.cum_pos,
         |  ROUND(CAST(c.cum_pos AS DOUBLE) / CAST(t.pt AS DOUBLE), 4) AS gain,
         |  ROUND((CAST(c.cum_pos AS DOUBLE) / CAST(t.pt AS DOUBLE))
         |    / (CAST(c.cum_n AS DOUBLE) / CAST(t.nt AS DOUBLE)), 4) AS lift
         |FROM c, t ORDER BY decile""".stripMargin,

    // LOO target encoding: two encoded values per binary-label category,
    // each an exact integer ratio
    "ext_target_encoding" ->
      """WITH r AS (SELECT event_type,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS y FROM events),
        |g AS (SELECT event_type, COUNT(*) AS n,
        |        CAST(SUM(y) AS BIGINT) AS pos
        |      FROM r GROUP BY event_type)
        |SELECT event_type, n, pos,
        |  ROUND(CASE WHEN n > 1 AND pos >= 1 THEN
        |    CAST(pos - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END, 4) AS te_pos,
        |  ROUND(CASE WHEN n > 1 AND n - pos >= 1 THEN
        |    CAST(pos AS DOUBLE) / CAST(n - 1 AS DOUBLE) END, 4) AS te_neg
        |FROM g ORDER BY event_type""".stripMargin,

    // l-diversity: distinct sensitive values per QI class, all exact
    // integer counts off one grouped distinct aggregate
    "ext_l_diversity" ->
      """WITH r AS (SELECT event_type, hour(ts) AS hr,
        |    CAST(ROUND(value * 100) AS BIGINT) // 1000 AS vb,
        |    user_id % 10 AS sens FROM events),
        |cl AS (SELECT event_type, hr, vb, COUNT(*) AS n,
        |         COUNT(DISTINCT sens) AS l FROM r GROUP BY 1, 2, 3),
        |h AS (SELECT l, COUNT(*) AS n_classes,
        |        CAST(SUM(n) AS BIGINT) AS n_records FROM cl GROUP BY l),
        |t AS (SELECT CAST(SUM(n_records) AS BIGINT) AS n,
        |        CAST(SUM(CASE WHEN l < 2 THEN n_records ELSE 0 END)
        |          AS BIGINT) AS lt2,
        |        CAST(SUM(CASE WHEN l < 3 THEN n_records ELSE 0 END)
        |          AS BIGINT) AS lt3 FROM h)
        |SELECT h.l, h.n_classes, h.n_records,
        |  ROUND(CAST(t.lt2 AS DOUBLE) / t.n, 4) AS frac_lt2,
        |  ROUND(CAST(t.lt3 AS DOUBLE) / t.n, 4) AS frac_lt3
        |FROM h, t ORDER BY l""".stripMargin,

    // Laplace mechanism with the md5-uniform inverse CDF — the same
    // deterministic draw in both engines
    "ext_dp_counts" ->
      """WITH g AS (SELECT event_type AS cat, COUNT(*) AS n FROM events
        |  GROUP BY 1),
        |u AS (SELECT cat, n,
        |        (CAST('0x' || substr(md5('dp1:' || cat), 1, 8) AS BIGINT)
        |          + 0.5) / 4294967296.0 AS u FROM g),
        |v AS (SELECT cat, n, u - 0.5 AS v FROM u)
        |SELECT cat AS event_type,
        |  ROUND(CAST(n AS DOUBLE)
        |    + (-1.0) * SIGN(v) * ln(1.0 - 2.0 * ABS(v)), 4) AS noisy_n,
        |  CAST(1.0 AS DOUBLE) AS b
        |FROM v ORDER BY event_type""".stripMargin,

    // Lorenz deciles: asc NTILE pairing, cumulative exact integer sums
    "ext_lorenz" ->
      """WITH t AS (SELECT user_id AS key,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS t
        |  FROM events GROUP BY 1),
        |bn AS (SELECT key, t, NTILE(10) OVER (ORDER BY t, key) AS decile
        |       FROM t),
        |k AS (SELECT decile, COUNT(*) AS n_keys, CAST(SUM(t) AS BIGINT) AS dv
        |      FROM bn GROUP BY decile),
        |c AS (SELECT decile, n_keys, dv,
        |        CAST(SUM(dv) OVER (ORDER BY decile) AS BIGINT) AS cum FROM k),
        |tv AS (SELECT CAST(SUM(dv) AS BIGINT) AS tv FROM k)
        |SELECT c.decile, c.n_keys,
        |  ROUND(CAST(c.dv AS DOUBLE) / 100.0, 4) AS decile_value,
        |  ROUND(CAST(c.cum AS DOUBLE) / CAST(tv.tv AS DOUBLE), 4) AS cum_share
        |FROM c, tv ORDER BY decile""".stripMargin,

    // Cramér's V over the full r×c grid: χ² fold in cell order, the
    // normalizations mirror the Spark expression exactly
    "ext_cramers_v" ->
      """WITH g AS (SELECT event_type AS x, hour(ts) AS y, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT xs.x, ys.y, CAST(COALESCE(g.c, 0) AS BIGINT) AS c
        |         FROM (SELECT DISTINCT x FROM g) xs
        |         CROSS JOIN (SELECT DISTINCT y FROM g) ys
        |         LEFT JOIN g ON g.x = xs.x AND g.y = ys.y),
        |rt AS (SELECT x, CAST(SUM(c) AS BIGINT) AS rt FROM grid GROUP BY x),
        |ct AS (SELECT y, CAST(SUM(c) AS BIGINT) AS ct FROM grid GROUP BY y),
        |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(DISTINCT x) AS r,
        |         COUNT(DISTINCT y) AS cc FROM grid),
        |k AS (SELECT grid.x, grid.y, grid.c,
        |        CAST(rt.rt * ct.ct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS e
        |      FROM grid JOIN rt USING (x) JOIN ct USING (y), nn),
        |k2 AS (SELECT x, y,
        |         (CAST(c AS DOUBLE) - e) * (CAST(c AS DOUBLE) - e) / e
        |           AS contrib FROM k),
        |c2 AS (SELECT list_reduce(list(contrib ORDER BY x, y),
        |         (a, b) -> a + b) AS chi2 FROM k2)
        |SELECT nn.n, nn.r, nn.cc AS c, ROUND(c2.chi2, 4) AS chi2,
        |  ROUND(sqrt((c2.chi2 / CAST(nn.n AS DOUBLE))
        |    / LEAST(CAST(nn.r AS DOUBLE) - 1.0, CAST(nn.cc AS DOUBLE) - 1.0)),
        |    4) AS v,
        |  ROUND(sqrt(GREATEST(0.0, c2.chi2 / CAST(nn.n AS DOUBLE)
        |      - (CAST(nn.r AS DOUBLE) - 1.0) * (CAST(nn.cc AS DOUBLE) - 1.0)
        |        / (CAST(nn.n AS DOUBLE) - 1.0))
        |    / LEAST((CAST(nn.r AS DOUBLE) - (CAST(nn.r AS DOUBLE) - 1.0)
        |        * (CAST(nn.r AS DOUBLE) - 1.0) / (CAST(nn.n AS DOUBLE) - 1.0))
        |        - 1.0,
        |      (CAST(nn.cc AS DOUBLE) - (CAST(nn.cc AS DOUBLE) - 1.0)
        |        * (CAST(nn.cc AS DOUBLE) - 1.0) / (CAST(nn.n AS DOUBLE) - 1.0))
        |        - 1.0)), 4) AS v_corrected
        |FROM nn, c2""".stripMargin,

    // Haldane-corrected odds ratios: ln of exact integer products
    "ext_odds_ratio" ->
      """WITH tl AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |dt AS (SELECT DISTINCT doc_id, tgt, unnest(ts) AS tok FROM tl),
        |c AS (SELECT tok, CAST(SUM(tgt) AS BIGINT) AS a,
        |        CAST(SUM(1 - tgt) AS BIGINT) AS b FROM dt GROUP BY tok),
        |tot AS (SELECT
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nr
        |  FROM documents)
        |SELECT c.tok, c.a AS in_target, c.b AS in_rest,
        |  ROUND(ln(CAST((2 * c.a + 1) * (2 * (tot.nr - c.b) + 1) AS DOUBLE)
        |    / CAST((2 * c.b + 1) * (2 * (tot.nt - c.a) + 1) AS DOUBLE)), 4)
        |    AS lnor
        |FROM c, tot ORDER BY tok""".stripMargin,

    // k-core: pure integer set computation, 8-round unrolled peel
    "ext_kcore" -> kcoreSql(Seq(2, 3, 4), 8),

    // B-cubed over the kmeans assignment vs labels: cell-ordered folds
    // of exact integer ratios
    "ext_bcubed" -> bcubedSql,

    // Dirichlet query likelihood: every ln argument an exact integer
    "ext_qld" -> qldSql(Bm25Terms, mu = 2000L),

    // closeness/harmonic centrality: 8-round unrolled all-pairs BFS
    "ext_closeness" -> closenessSql(16),

    // Eppstein–Wang sampled-pivot closeness: same BFS chain seeded from
    // the 64 md5-smallest pivots; estimate a ratio of exact longs
    "ext_approx_closeness" -> approxClosenessSql(8, 64),

    // t-closeness: integer common-denominator EMD cumulatives,
    // cross-multiplied threshold decisions
    "ext_t_closeness" ->
      """WITH base AS (SELECT event_type, hour(ts) AS hr,
        |    CAST(ROUND(value * 100) AS BIGINT) // 1000 AS vb,
        |    user_id % 10 AS sv
        |  FROM events),
        |cells AS (SELECT event_type, hr, vb, sv, CAST(COUNT(*) AS BIGINT) AS c
        |          FROM base GROUP BY 1, 2, 3, 4),
        |classes AS (SELECT event_type, hr, vb, CAST(SUM(c) AS BIGINT) AS n
        |            FROM cells GROUP BY 1, 2, 3),
        |gdist AS (SELECT sv, CAST(SUM(c) AS BIGINT) AS g FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(g) AS BIGINT) AS nn, COUNT(*) AS m FROM gdist),
        |grid AS (SELECT cl.event_type, cl.hr, cl.vb, cl.n, gl.sv, gl.g,
        |           COALESCE(ce.c, 0) AS c, t.nn, t.m
        |         FROM classes cl CROSS JOIN gdist gl
        |         LEFT JOIN cells ce ON ce.event_type = cl.event_type
        |           AND ce.hr = cl.hr AND ce.vb = cl.vb AND ce.sv = gl.sv
        |         CROSS JOIN tot t),
        |cum AS (SELECT event_type, hr, vb, n, nn, m,
        |          SUM(c * nn - g * n) OVER (PARTITION BY event_type, hr, vb
        |            ORDER BY sv ROWS UNBOUNDED PRECEDING) AS cum
        |        FROM grid),
        |pc AS (SELECT event_type, hr, vb, n, nn, m,
        |         CAST(SUM(ABS(cum)) AS BIGINT) AS acum
        |       FROM cum GROUP BY 1, 2, 3, 4, 5, 6),
        |pd AS (SELECT n, acum, (m - 1) * n * nn AS den FROM pc)
        |SELECT COUNT(*) AS n_classes, CAST(SUM(n) AS BIGINT) AS n_records,
        |  ROUND(MAX(CAST(acum AS DOUBLE) / CAST(den AS DOUBLE)), 4) AS max_t,
        |  ROUND(CAST(SUM(CASE WHEN acum * 5 > den THEN n ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(n) AS DOUBLE), 4) AS frac_t_gt_02,
        |  ROUND(CAST(SUM(CASE WHEN acum * 2 > den THEN n ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(n) AS DOUBLE), 4) AS frac_t_gt_05
        |FROM pd""".stripMargin,

    // Durbin–Watson: exact integer Σd² / (nΣc² − S²), one final ratio
    "ext_durbin_watson" ->
      s"""WITH hc AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type,
        |           GREATEST(CAST(epoch(MIN(h)) AS BIGINT) // 3600,
        |                    CAST(epoch(MAX(h)) AS BIGINT) // 3600
        |                      - ${Temporal.GridMaxSpanHours - 1}) AS eh0,
        |           CAST(epoch(MAX(h)) AS BIGINT) // 3600 AS eh1
        |         FROM hc GROUP BY event_type),
        |hours AS MATERIALIZED (
        |  SELECT s.event_type, CAST(g.eh AS BIGINT) AS eh
        |  FROM span s, unnest(range(s.eh0, s.eh1 + 1)) AS g(eh)),
        |hce AS (SELECT event_type, CAST(epoch(h) AS BIGINT) // 3600 AS eh, c
        |        FROM hc),
        |grid AS (
        |  SELECT hr.event_type, hr.eh, CAST(COALESCE(hce.c, 0) AS BIGINT) AS c
        |  FROM hours hr LEFT JOIN hce USING (event_type, eh)),
        |d AS (SELECT event_type, c,
        |        c - lag(c) OVER (PARTITION BY event_type ORDER BY eh) AS dd
        |      FROM grid),
        |a AS (SELECT event_type, COUNT(*) AS n_hours,
        |        CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS s2,
        |        CAST(SUM(CASE WHEN dd IS NOT NULL THEN dd * dd END) AS BIGINT)
        |          AS sd2
        |      FROM d GROUP BY 1)
        |SELECT event_type, n_hours,
        |  CASE WHEN n_hours * s2 - s * s > 0 THEN
        |    ROUND(CAST(n_hours * sd2 AS DOUBLE)
        |      / CAST(n_hours * s2 - s * s AS DOUBLE), 4) END AS dw
        |FROM a ORDER BY event_type""".stripMargin,

    // Mann–Kendall + Theil–Sen: integer S and 18·Var(S), quantized
    // pairwise slopes, quantile_cont/percentile median pairing
    "ext_mann_kendall" ->
      s"""WITH hc AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type,
        |           GREATEST(CAST(epoch(MIN(h)) AS BIGINT) // 3600,
        |                    CAST(epoch(MAX(h)) AS BIGINT) // 3600
        |                      - ${Temporal.MannKendallSpanHours - 1}) AS eh0,
        |           CAST(epoch(MAX(h)) AS BIGINT) // 3600 AS eh1
        |         FROM hc GROUP BY event_type),
        |hours AS MATERIALIZED (
        |  SELECT s.event_type, CAST(g.eh AS BIGINT) AS eh
        |  FROM span s, unnest(range(s.eh0, s.eh1 + 1)) AS g(eh)),
        |hce AS (SELECT event_type, CAST(epoch(h) AS BIGINT) // 3600 AS eh, c
        |        FROM hc),
        |grid AS (
        |  SELECT hr.event_type, hr.eh, CAST(COALESCE(hce.c, 0) AS BIGINT) AS c
        |  FROM hours hr LEFT JOIN hce USING (event_type, eh)),
        |p AS (SELECT a.event_type,
        |        CAST(SIGN(b.c - a.c) AS BIGINT) AS sg,
        |        CAST(ROUND(CAST(b.c - a.c AS DOUBLE) * 10000.0
        |          / CAST(b.eh - a.eh AS DOUBLE)) AS BIGINT) AS sl4
        |      FROM grid a JOIN grid b
        |        ON b.event_type = a.event_type AND a.eh < b.eh),
        |sa AS (SELECT event_type, CAST(SUM(sg) AS BIGINT) AS s,
        |         quantile_cont(sl4, 0.5) AS med4
        |       FROM p GROUP BY 1),
        |ties AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS t
        |         FROM grid GROUP BY 1, 2),
        |tv AS (SELECT event_type, CAST(SUM(t) AS BIGINT) AS n,
        |         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
        |       FROM ties GROUP BY 1),
        |v AS (SELECT event_type, n,
        |        n * (n - 1) * (2 * n + 5) - tsum AS v18 FROM tv)
        |SELECT sa.event_type, v.n AS n_hours, sa.s,
        |  ROUND(CAST(v.v18 AS DOUBLE) / 18.0, 4) AS var_s,
        |  CASE WHEN v.v18 > 0 THEN ROUND(
        |    (CASE WHEN sa.s > 0 THEN CAST(sa.s - 1 AS DOUBLE)
        |          WHEN sa.s < 0 THEN CAST(sa.s + 1 AS DOUBLE)
        |          ELSE 0.0 END)
        |    / sqrt(CAST(v.v18 AS DOUBLE) / 18.0), 4) END AS z,
        |  ROUND(med4 / 10000.0, 4) AS sen_slope
        |FROM sa JOIN v USING (event_type) ORDER BY event_type""".stripMargin,

    // Jarque–Bera: integer-rounded values keep Σx⁴ < 2^53 → exact longs,
    // identical double central-moment expressions in both engines
    "ext_jarque_bera" ->
      """WITH g AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(x * x) AS BIGINT) AS s2,
        |    CAST(SUM(x * x * x) AS BIGINT) AS s3,
        |    CAST(SUM(x * x * x * x) AS BIGINT) AS s4
        |  FROM (SELECT event_type, CAST(ROUND(value) AS BIGINT) AS x
        |        FROM events WHERE value IS NOT NULL)
        |  GROUP BY 1),
        |m AS (SELECT event_type, n,
        |        CAST(s1 AS DOUBLE) / n AS mu,
        |        CAST(s2 AS DOUBLE) / n
        |          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
        |        CAST(s3 AS DOUBLE) / n
        |          - 3.0 * (CAST(s1 AS DOUBLE) / n) * CAST(s2 AS DOUBLE) / n
        |          + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |            * (CAST(s1 AS DOUBLE) / n) AS m3,
        |        CAST(s4 AS DOUBLE) / n
        |          - 4.0 * (CAST(s1 AS DOUBLE) / n) * CAST(s3 AS DOUBLE) / n
        |          + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |            * CAST(s2 AS DOUBLE) / n
        |          - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |            * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
        |      FROM g),
        |k AS (SELECT event_type, n, mu,
        |        CASE WHEN m2 > 0.0 THEN m3 / (m2 * sqrt(m2)) END AS skw,
        |        CASE WHEN m2 > 0.0 THEN m4 / (m2 * m2) - 3.0 END AS krt
        |      FROM m)
        |SELECT event_type, n, ROUND(mu, 4) AS mean,
        |  ROUND(skw, 4) AS skewness, ROUND(krt, 4) AS kurtosis_excess,
        |  ROUND(n * (skw * skw / 6.0 + krt * krt / 24.0), 4) AS jb
        |FROM k ORDER BY event_type""".stripMargin,

    // Brown–Forsythe: ANOVA on |x − group median|, exact half-cent z
    "ext_brown_forsythe" ->
      """WITH v AS (SELECT event_type AS g,
        |             CAST(ROUND(value * 100) AS BIGINT) AS v
        |           FROM events WHERE value IS NOT NULL),
        |med AS (SELECT g, CAST(ROUND(quantile_cont(v, 0.5) * 2) AS BIGINT)
        |          AS m2x FROM v GROUP BY g),
        |z AS (SELECT v.g, ABS(v.v * 2 - med.m2x) AS z
        |      FROM v JOIN med USING (g)),
        |gr AS (SELECT g, COUNT(*) AS n, CAST(SUM(z) AS BIGINT) AS s,
        |         CAST(SUM(z * z) AS BIGINT) AS q
        |       FROM z GROUP BY g),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |          CAST(SUM(s) AS BIGINT) AS ss, COUNT(*) AS k FROM gr),
        |sb AS (SELECT
        |    list_reduce(list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) ORDER BY g), (a, b) -> a + b) AS sbs,
        |    list_reduce(list(CAST(q AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |      ORDER BY g), (a, b) -> a + b) AS sws
        |  FROM gr),
        |w AS (SELECT tot.k, tot.nn, sb.sws,
        |        sb.sbs - CAST(tot.ss AS DOUBLE) * CAST(tot.ss AS DOUBLE)
        |          / CAST(tot.nn AS DOUBLE) AS ssb
        |      FROM tot, sb),
        |f AS (SELECT k, nn, CASE WHEN k > 1 AND nn > k AND sws > 0.0 THEN
        |        (ssb / CAST(k - 1 AS DOUBLE)) / (sws / CAST(nn - k AS DOUBLE))
        |        END AS w_stat FROM w)
        |SELECT gr.g AS event_type, gr.n,
        |  ROUND(CAST(gr.s AS DOUBLE) / CAST(gr.n * 200 AS DOUBLE), 4)
        |    AS mean_abs_dev,
        |  f.k AS n_groups, f.nn AS n_total, ROUND(f.w_stat, 4) AS w_stat
        |FROM gr, f ORDER BY event_type""".stripMargin,

    // Calinski–Harabasz: exact 1e-4-long W/B sums, one final division
    "ext_calinski" -> chSql,

    // Davies–Bouldin: 1e-4-long scatters + centroid separations,
    // cid-ordered DB fold
    "ext_davies_bouldin" -> dbSql,

    // Rand/ARI: doubled pair counts, HUGEINT/DECIMAL(38,0) products
    "ext_cluster_ari" -> clusterAriSql,

    // NMI: integer-ln MI + entropies, cell-ordered folds
    "ext_cluster_nmi" -> clusterNmiSql,

    // V-measure: conditional entropies from the same integer-ln folds
    "ext_vmeasure" -> vMeasureSql,

    // Dunn index: min/max over exact 1e-4-integer distances
    "ext_dunn" ->
      s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |keep AS MATERIALIZED (SELECT vec_id FROM e0
        |  ORDER BY md5('eslice' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT ${Similarity.EvalSliceRows}),
        |e AS MATERIALIZED (SELECT e0.vec_id, e0.label, e0.e
        |  FROM e0 JOIN keep USING (vec_id)),
        |d4 AS (SELECT a.label AS la, b.label AS lb,
        |        10000 - CAST(ROUND(ROUND(list_dot_product(a.e, b.e)
        |          / (sqrt(list_dot_product(a.e, a.e))
        |            * sqrt(list_dot_product(b.e, b.e))), 4) * 10000)
        |          AS BIGINT) AS d4
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT MIN(CASE WHEN la <> lb THEN d4 END) AS min_inter,
        |  MAX(CASE WHEN la = lb THEN d4 END) AS max_intra,
        |  ROUND(CAST(MIN(CASE WHEN la <> lb THEN d4 END) AS DOUBLE)
        |    / CAST(MAX(CASE WHEN la = lb THEN d4 END) AS DOUBLE), 4) AS dunn
        |FROM d4""".stripMargin,

    // Brier + Murphy decomposition: 1e-8-integer squared errors, the
    // calibration decile bins, bin-ordered folds
    "ext_brier" -> brierSql,

    // log-rank: per-time E/V from exact integer risk counts, folded in
    // duration order; chi-square 1 df
    "ext_logrank" ->
      """WITH u AS (SELECT user_id, MIN(epoch_us(ts)) AS t0,
        |    MAX(epoch_us(ts)) AS t1, CAST(user_id % 2 AS INT) AS grp
        |  FROM events GROUP BY user_id),
        |g AS (SELECT MAX(t1) AS gm FROM u),
        |us AS (SELECT grp, (t1 - t0) // 86400000000 AS dur,
        |         CASE WHEN g.gm - t1 > 12 * 3600000000 THEN 1 ELSE 0 END
        |           AS observed FROM u, g),
        |dc AS (SELECT dur, COUNT(*) AS cnt,
        |        CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS cnt1,
        |        CAST(SUM(observed) AS BIGINT) AS d,
        |        CAST(SUM(CASE WHEN grp = 1 THEN observed ELSE 0 END)
        |          AS BIGINT) AS d1
        |      FROM us GROUP BY dur),
        |risk AS (SELECT dur, d, d1,
        |    CAST(SUM(cnt) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS n,
        |    CAST(SUM(cnt1) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS n1
        |  FROM dc),
        |t AS (SELECT dur, d, d1,
        |    CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE) AS e1,
        |    CASE WHEN n > 1 THEN CAST(d AS DOUBLE)
        |      * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |    ELSE 0.0 END AS v
        |  FROM risk WHERE d > 0),
        |a AS (SELECT COUNT(*) AS n_times, CAST(SUM(d1) AS BIGINT) AS o1,
        |    list_reduce(list(e1 ORDER BY dur), (x, y) -> x + y) AS e1,
        |    list_reduce(list(v ORDER BY dur), (x, y) -> x + y) AS v FROM t)
        |SELECT n_times, o1, ROUND(e1, 4) AS e1, ROUND(v, 4) AS v,
        |  ROUND(CASE WHEN v > 0.0 THEN
        |    (CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v END, 4)
        |    + 0.0 AS chi2,
        |  ROUND(CASE WHEN v > 0.0 THEN SIGN(CAST(o1 AS DOUBLE) - e1)
        |    * sqrt((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v)
        |  END, 4) + 0.0 AS z
        |FROM a""".stripMargin,

    // Nelson-Aalen: the KM chain with additive d/n cumulatives
    "ext_nelson_aalen" ->
      """WITH u AS (SELECT user_id, MIN(epoch_us(ts)) AS t0,
        |    MAX(epoch_us(ts)) AS t1 FROM events GROUP BY user_id),
        |g AS (SELECT MAX(t1) AS gm FROM u),
        |us AS (SELECT (t1 - t0) // 86400000000 AS dur,
        |         CASE WHEN g.gm - t1 > 12 * 3600000000 THEN 1 ELSE 0 END
        |           AS observed
        |       FROM u, g),
        |times AS (SELECT dur, COUNT(*) AS d FROM us WHERE observed = 1
        |          GROUP BY dur),
        |dc AS (SELECT dur, COUNT(*) AS cnt FROM us GROUP BY dur),
        |risk AS (SELECT dur,
        |    SUM(cnt) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING)
        |      AS n_risk
        |  FROM dc),
        |s AS (SELECT t.dur AS t, CAST(r.n_risk AS BIGINT) AS n_risk,
        |        t.d AS d_events,
        |        SUM(CAST(t.d AS DOUBLE) / CAST(r.n_risk AS DOUBLE))
        |          OVER (ORDER BY t.dur ROWS UNBOUNDED PRECEDING) AS h,
        |        SUM(CAST(t.d AS DOUBLE)
        |            / CAST(r.n_risk * r.n_risk AS DOUBLE))
        |          OVER (ORDER BY t.dur ROWS UNBOUNDED PRECEDING) AS vh
        |      FROM times t JOIN risk r USING (dur))
        |SELECT t, n_risk, d_events,
        |  ROUND(h + SIGN(h) * 0.000000001, 4) AS hazard,
        |  ROUND(vh + SIGN(vh) * 0.000000001, 4) AS var_h
        |FROM s ORDER BY t""".stripMargin,

    // kNN label eval: votes from the rounded-cosine ranking, majority
    // by (count desc, label asc), all rollups exact integers
    "ext_knn_eval" ->
      s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |keep AS MATERIALIZED (SELECT vec_id FROM e0
        |  ORDER BY md5('eslice' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT ${Similarity.EvalSliceRows}),
        |e AS MATERIALIZED (SELECT e0.vec_id, e0.label, e0.e
        |  FROM e0 JOIN keep USING (vec_id)),
        |p AS (SELECT a.vec_id AS a, a.label AS la, b.vec_id AS b,
        |        b.label AS lb,
        |        ROUND(list_dot_product(a.e, b.e)
        |          / (sqrt(list_dot_product(a.e, a.e))
        |            * sqrt(list_dot_product(b.e, b.e))), 4) AS cos
        |      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |t AS (SELECT a, la, lb FROM (SELECT a, la, lb,
        |        row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rk
        |      FROM p) WHERE rk <= ${Similarity.KnnEvalK}),
        |v AS (SELECT a, la, lb, COUNT(*) AS c FROM t GROUP BY 1, 2, 3),
        |pr AS (SELECT a, la, lb AS pred FROM (SELECT a, la, lb,
        |        row_number() OVER (PARTITION BY a ORDER BY c DESC, lb) AS r
        |      FROM v) WHERE r = 1)
        |SELECT la AS label, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN pred = la THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  ROUND(CAST(SUM(CASE WHEN pred = la THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 4) AS acc
        |FROM pr GROUP BY la ORDER BY label""".stripMargin,

    // IVF-routed knn eval + exact-top-k recall guard: raw-cos centroid
    // ranking (the ext_ivf_topk pattern), ROUND(cos,4) candidate ranking
    // (the ext_knn_eval pattern), TP/FN per label over the pair sets
    "ext_knn_eval_ivf" ->
      s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |keep AS MATERIALIZED (SELECT vec_id FROM e0
         |  ORDER BY md5('eslice' || CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT ${Similarity.EvalSliceRows}),
         |e AS MATERIALIZED (SELECT e0.vec_id, e0.label, e0.e
         |  FROM e0 JOIN keep USING (vec_id)),
         |cent AS (SELECT vec_id AS cid, e AS ce FROM e
         |         ORDER BY vec_id LIMIT ${Similarity.KnnIvfNlist}),
         |assigned AS (
         |  SELECT vec_id, label, cid FROM (
         |    SELECT v.vec_id, v.label, c.cid, ROW_NUMBER() OVER (
         |      PARTITION BY v.vec_id
         |      ORDER BY ${cosRawSql("v.e", "c.ce")} DESC, c.cid) AS arn
         |    FROM e v, cent c) WHERE arn = 1),
         |probes AS (
         |  SELECT vec_id AS a, cid FROM (
         |    SELECT v.vec_id, c.cid, ROW_NUMBER() OVER (
         |      PARTITION BY v.vec_id
         |      ORDER BY ${cosRawSql("v.e", "c.ce")} DESC, c.cid) AS prn
         |    FROM e v, cent c) WHERE prn <= ${Similarity.KnnIvfNprobe}),
         |annp AS (
         |  SELECT p.a, ea.label AS la, s.vec_id AS b, s.label AS lb,
         |    ${cosSql("ea.e", "eb.e")} AS cos
         |  FROM probes p
         |  JOIN assigned s ON s.cid = p.cid AND s.vec_id <> p.a
         |  JOIN e ea ON ea.vec_id = p.a
         |  JOIN e eb ON eb.vec_id = s.vec_id),
         |annt AS (SELECT a, la, b, lb FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cos DESC, b)
         |    AS rk FROM annp) WHERE rk <= ${Similarity.KnnEvalK}),
         |rkeep AS MATERIALIZED (SELECT vec_id FROM e
         |  ORDER BY md5('rslice' || CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT ${Similarity.KnnRecallQueries}),
         |exp AS (SELECT a.vec_id AS a, a.label AS la, b.vec_id AS b,
         |    ${cosSql("a.e", "b.e")} AS cos
         |  FROM e a JOIN rkeep r ON r.vec_id = a.vec_id
         |  JOIN e b ON a.vec_id <> b.vec_id),
         |exk AS (SELECT a, la, b FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cos DESC, b)
         |    AS rk FROM exp) WHERE rk <= ${Similarity.KnnEvalK}),
         |v AS (SELECT a, la, lb, COUNT(*) AS c FROM annt GROUP BY 1, 2, 3),
         |pr AS (SELECT a, la, lb AS pred FROM (SELECT a, la, lb,
         |    ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, lb) AS r
         |  FROM v) WHERE r = 1),
         |cor AS (SELECT la AS label, COUNT(*) AS n_correct FROM pr
         |        WHERE pred = la GROUP BY 1),
         |nall AS (SELECT label, COUNT(*) AS n FROM e GROUP BY label),
         |rec AS (SELECT x.la AS label,
         |    CAST(SUM(CASE WHEN t.b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS tp,
         |    CAST(SUM(CASE WHEN t.b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS fn
         |  FROM exk x LEFT JOIN annt t ON t.a = x.a AND t.b = x.b
         |  GROUP BY x.la)
         |SELECT nall.label, nall.n,
         |  CAST(COALESCE(cor.n_correct, 0) AS BIGINT) AS n_correct,
         |  ROUND(CAST(COALESCE(cor.n_correct, 0) AS DOUBLE)
         |    / CAST(nall.n AS DOUBLE), 4) AS acc,
         |  CAST(COALESCE(rec.tp, 0) AS BIGINT) AS tp,
         |  CAST(COALESCE(rec.fn, 0) AS BIGINT) AS fn,
         |  CASE WHEN COALESCE(rec.tp, 0) + COALESCE(rec.fn, 0) > 0 THEN
         |    ROUND(CAST(rec.tp AS DOUBLE) / CAST(rec.tp + rec.fn AS DOUBLE), 4)
         |  END AS recall
         |FROM nall LEFT JOIN cor USING (label) LEFT JOIN rec USING (label)
         |ORDER BY label""".stripMargin,

    // silhouette: 1e-4-integer distances, identical-double means, s
    // re-quantized through StableRound so the cluster mean is exact
    "ext_silhouette" ->
      s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |keep AS MATERIALIZED (SELECT vec_id FROM e0
        |  ORDER BY md5('eslice' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT ${Similarity.EvalSliceRows}),
        |e AS MATERIALIZED (SELECT e0.vec_id, e0.label, e0.e
        |  FROM e0 JOIN keep USING (vec_id)),
        |d4 AS (SELECT a.vec_id AS a, a.label AS la, b.label AS lb,
        |        10000 - CAST(ROUND(ROUND(list_dot_product(a.e, b.e)
        |          / (sqrt(list_dot_product(a.e, a.e))
        |            * sqrt(list_dot_product(b.e, b.e))), 4) * 10000)
        |          AS BIGINT) AS d4
        |      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |pc AS (SELECT a, la, lb, CAST(SUM(d4) AS BIGINT) AS sd4 FROM d4
        |       GROUP BY 1, 2, 3),
        |sz AS (SELECT label AS lb, CAST(COUNT(*) AS BIGINT) AS nc FROM e
        |       GROUP BY label),
        |m AS (SELECT a, la, lb, CASE WHEN lb = la THEN
        |        CASE WHEN nc > 1 THEN
        |          CAST(sd4 AS DOUBLE) / CAST(nc - 1 AS DOUBLE) END
        |      ELSE CAST(sd4 AS DOUBLE) / CAST(nc AS DOUBLE) END AS mean4
        |      FROM pc JOIN sz USING (lb)),
        |ab AS (SELECT a, la, MAX(CASE WHEN lb = la THEN mean4 END) AS a4,
        |        MIN(CASE WHEN lb <> la THEN mean4 END) AS b4
        |       FROM m GROUP BY a, la),
        |si AS (SELECT a, la, CASE WHEN a4 IS NULL OR b4 IS NULL THEN 0
        |    ELSE CAST(ROUND(ROUND((b4 - a4) / GREATEST(a4, b4)
        |      + SIGN((b4 - a4) / GREATEST(a4, b4)) * 0.000000001, 4)
        |      * 10000) AS BIGINT) END AS si4 FROM ab)
        |SELECT la AS label, COUNT(*) AS n,
        |  ROUND(CAST(SUM(si4) AS DOUBLE)
        |    / (10000.0 * CAST(COUNT(*) AS DOUBLE)), 4) + 0.0 AS silhouette
        |FROM si GROUP BY la ORDER BY label""".stripMargin,

    // Gini stump: cross-multiplied HUGEINT argmin, no float decisions
    "ext_gini_stump" ->
      """WITH r AS (SELECT CAST(ROUND(value * 100) AS BIGINT) // 1000 AS bin,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(y) AS BIGINT) AS pos FROM r GROUP BY bin),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
        |          CAST(SUM(pos) AS BIGINT) AS pt FROM g),
        |c AS (SELECT bin, CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS nl,
        |        CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS pl,
        |        tot.nt, tot.pt FROM g, tot),
        |cand AS (SELECT bin, nl, pl, nt - nl AS nr, pt - pl AS pr, nt, pt
        |         FROM c WHERE nl < nt),
        |sc AS (SELECT bin, nl, pl, nr, pr, nt, pt,
        |    (CAST(nl AS HUGEINT) * nl - CAST(pl AS HUGEINT) * pl
        |      - CAST(nl - pl AS HUGEINT) * (nl - pl)) * nr
        |    + (CAST(nr AS HUGEINT) * nr - CAST(pr AS HUGEINT) * pr
        |      - CAST(nr - pr AS HUGEINT) * (nr - pr)) * nl AS wnum,
        |    CAST(nl AS HUGEINT) * nr AS den FROM cand),
        |best AS (SELECT * FROM sc a WHERE NOT EXISTS (
        |    SELECT 1 FROM sc b WHERE b.wnum * a.den < a.wnum * b.den
        |      OR (b.wnum * a.den = a.wnum * b.den AND b.bin < a.bin)))
        |SELECT bin AS split_bin, nl AS n_left, nr AS n_right,
        |  pl AS pos_left, pr AS pos_right,
        |  ROUND(1.0 - CAST(CAST(pt AS HUGEINT) * pt
        |      + CAST(nt - pt AS HUGEINT) * (nt - pt) AS DOUBLE)
        |    / CAST(CAST(nt AS HUGEINT) * nt AS DOUBLE), 4) AS gini_parent,
        |  ROUND(CAST(wnum AS DOUBLE) / (CAST(nl AS DOUBLE) * CAST(nr AS DOUBLE)
        |    * CAST(nt AS DOUBLE)), 4) AS gini_children,
        |  ROUND((1.0 - CAST(CAST(pt AS HUGEINT) * pt
        |      + CAST(nt - pt AS HUGEINT) * (nt - pt) AS DOUBLE)
        |    / CAST(CAST(nt AS HUGEINT) * nt AS DOUBLE))
        |    - CAST(wnum AS DOUBLE) / (CAST(nl AS DOUBLE) * CAST(nr AS DOUBLE)
        |      * CAST(nt AS DOUBLE)), 4) AS gain
        |FROM best""".stripMargin,

    // Chao1: singleton/doubleton ratios of exact integers
    "ext_chao1" ->
      """WITH tl AS (SELECT source,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |tc AS (SELECT source, unnest(ts) AS tok FROM tl),
        |c AS (SELECT source, tok, COUNT(*) AS c FROM tc GROUP BY 1, 2),
        |g AS (SELECT source, COUNT(*) AS n_types,
        |        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |        CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |      FROM c GROUP BY source)
        |SELECT source, n_types, f1, f2,
        |  ROUND(CAST(n_types AS DOUBLE)
        |    + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE), 4)
        |    AS chao1
        |FROM g ORDER BY source""".stripMargin,

    // cohort LTV: 2-decimal integer revenue, span-bounded per-cohort
    // cumulative, size = the week-0 cell
    "ext_cohort_ltv" ->
      """WITH b AS (SELECT user_id AS u,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    CAST(ROUND(value * 100) AS BIGINT) AS vc FROM events),
        |ch AS (SELECT u, MIN(wk) AS cohort_week FROM b GROUP BY u),
        |t AS (SELECT b.u, ch.cohort_week,
        |        CAST(datediff('day', ch.cohort_week, b.wk) // 7 AS BIGINT)
        |          AS week_offset, b.vc
        |      FROM b JOIN ch USING (u)),
        |cells AS (SELECT cohort_week, week_offset,
        |        CAST(COUNT(DISTINCT u) AS BIGINT) AS n_active,
        |        CAST(SUM(vc) AS BIGINT) AS rev
        |      FROM t GROUP BY 1, 2),
        |sizes AS (SELECT cohort_week, n_active AS n_cohort FROM cells
        |          WHERE week_offset = 0),
        |cum AS (SELECT cohort_week, week_offset, n_active, rev,
        |          CAST(SUM(rev) OVER (PARTITION BY cohort_week
        |            ORDER BY week_offset) AS BIGINT) AS cum FROM cells)
        |SELECT c.cohort_week, c.week_offset, c.n_active,
        |  ROUND(CAST(c.rev AS DOUBLE) / 100.0, 4) AS rev,
        |  ROUND(CAST(c.cum AS DOUBLE) / 100.0
        |    / CAST(s.n_cohort AS DOUBLE), 4) AS cum_ltv
        |FROM cum c JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // BFS layers: 8-round unrolled frontier expansion, MIN-distance
    // merge per round — integer set computation like the k-core twin
    "ext_bfs" -> bfsSql(8),

    // probe PR sweep: all decisions on the 1e-4-scaled integer score;
    // MCC marginals multiply in HUGEINT
    "ext_probe_pr" -> probePrSql(Seq(30, 50, 70)),

    // TextRank: the verified pagerank chain on the adjacent-token graph,
    // run directly on token strings (labels don't change rank values)
    "ext_textrank" -> {
      val iters = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT e.dst AS id, 0.15 / MAX(nn.n) + 0.85 * SUM(r${i - 1}.r / deg.dg) AS r
           |  FROM e JOIN r${i - 1} ON r${i - 1}.id = e.src
           |  JOIN deg ON deg.src = e.src, nn
           |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $toksCte,
         |tb AS (SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
         |  FROM (SELECT unnest(list_transform(range(1, len(ts)),
         |      i -> ts[i] || ' ' || ts[i+1])) AS g
         |    FROM toks WHERE len(ts) >= 2)),
         |ed AS (SELECT DISTINCT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b
         |       FROM tb WHERE w1 <> w2),
         |e AS (SELECT a AS src, b AS dst FROM ed
         |      UNION ALL SELECT b, a FROM ed),
         |deg AS (SELECT src, COUNT(*) AS dg FROM e GROUP BY src),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
         |r0 AS (SELECT src AS id, 1.0 / n AS r FROM deg, nn),
         |$iters
         |SELECT id AS tok, ROUND(r + SIGN(r) * 0.000000001, 4) AS pr
         |FROM r5 ORDER BY tok""".stripMargin
    },

    // MMR: every greedy decision an integer comparison in 1e-4 units;
    // the oracle unrolls the k-step selection
    "ext_mmr" -> mmrSql(0L, 20, 5),

    // association rules: every metric a ratio of exact integers off
    // one distinct rollup + a types²-bounded self-join
    "ext_assoc_rules" ->
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t
        |  FROM events),
        |sizes AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY t),
        |nn AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS nu FROM ut),
        |b AS (SELECT a.t AS ante, c.t AS cons, CAST(COUNT(*) AS BIGINT)
        |        AS n_both
        |      FROM ut a JOIN ut c ON a.u = c.u AND a.t <> c.t
        |      GROUP BY 1, 2)
        |SELECT b.ante, b.cons, sa.n AS n_ante, b.n_both,
        |  ROUND(CAST(b.n_both AS DOUBLE) / CAST(sa.n AS DOUBLE), 4)
        |    AS confidence,
        |  ROUND(CAST(b.n_both * nn.nu AS DOUBLE)
        |    / CAST(sa.n * sc.n AS DOUBLE), 4) AS lift
        |FROM b JOIN sizes sa ON sa.t = b.ante
        |  JOIN sizes sc ON sc.t = b.cons, nn
        |ORDER BY ante, cons""".stripMargin,

    // weighted quantiles: 100·cumw ≥ q·W integer threshold over the
    // per-group distinct-value cumulative
    "ext_weighted_quantile" ->
      """WITH r AS (SELECT event_type, value AS v,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS w
        |  FROM events),
        |vw AS (SELECT event_type, v, CAST(SUM(w) AS BIGINT) AS wv
        |       FROM r WHERE w IS NOT NULL AND w > 0 GROUP BY event_type, v),
        |c AS (SELECT event_type, v, wv,
        |        CAST(SUM(wv) OVER (PARTITION BY event_type ORDER BY v)
        |          AS BIGINT) AS cw FROM vw),
        |t AS (SELECT event_type, CAST(SUM(wv) AS BIGINT) AS wt FROM vw
        |      GROUP BY event_type)
        |SELECT c.event_type, t.wt AS w_total,
        |  MIN(CASE WHEN c.cw * 100 >= 50 * t.wt THEN c.v END) AS wp50,
        |  MIN(CASE WHEN c.cw * 100 >= 90 * t.wt THEN c.v END) AS wp90
        |FROM c JOIN t USING (event_type)
        |GROUP BY c.event_type, t.wt ORDER BY event_type""".stripMargin,

    // seasonal decomposition: 25×-scaled integer detrending, one final
    // division per (type, hod) cell
    "ext_seasonal_decompose" ->
      s"""WITH hc AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type,
        |           GREATEST(CAST(epoch(MIN(h)) AS BIGINT) // 3600,
        |                    CAST(epoch(MAX(h)) AS BIGINT) // 3600
        |                      - ${Temporal.GridMaxSpanHours - 1}) AS eh0,
        |           CAST(epoch(MAX(h)) AS BIGINT) // 3600 AS eh1
        |         FROM hc GROUP BY event_type),
        |hours AS MATERIALIZED (
        |  SELECT s.event_type, CAST(g.eh AS BIGINT) AS eh
        |  FROM span s, unnest(range(s.eh0, s.eh1 + 1)) AS g(eh)),
        |hce AS (SELECT event_type, CAST(epoch(h) AS BIGINT) // 3600 AS eh, c
        |        FROM hc),
        |grid AS (
        |  SELECT hr.event_type, hr.eh, CAST(COALESCE(hce.c, 0) AS BIGINT) AS c
        |  FROM hours hr LEFT JOIN hce USING (event_type, eh)),
        |tr AS (SELECT event_type, eh, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY eh
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS BIGINT) AS t25,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY eh
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS nw
        |  FROM grid),
        |d AS (SELECT event_type, ((eh % 24) + 24) % 24 AS hod,
        |        25 * c - t25 AS d25 FROM tr WHERE nw = 25)
        |SELECT event_type, hod, COUNT(*) AS n_h,
        |  ROUND(CAST(SUM(d25) AS DOUBLE)
        |    / (25.0 * CAST(COUNT(*) AS DOUBLE)), 4) + 0.0 AS seasonal
        |FROM d GROUP BY event_type, hod ORDER BY event_type, hod""".stripMargin,

    // SRM: χ² of the distinct-unit split vs 50/50, exact counts in
    "ext_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id AS u,
        |    CAST(user_id % 2 AS INT) AS v FROM events),
        |c AS (SELECT CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |        AS n_a,
        |      CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |      FROM u)
        |SELECT n_a, n_b,
        |  ROUND((CAST(n_a AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    * (CAST(n_a AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    + (CAST(n_b AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    * (CAST(n_b AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0), 4) AS chi2,
        |  ROUND(SIGN(CAST(n_a AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    * sqrt((CAST(n_a AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    * (CAST(n_a AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    + (CAST(n_b AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    * (CAST(n_b AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)), 4) + 0.0
        |    AS z
        |FROM c""".stripMargin,

    // CUPED: θ and var(y') from DECIMAL/HUGEINT raw moments, every
    // double expression mirrored term-for-term
    "ext_cuped" ->
      """WITH ev AS (SELECT user_id AS u, CAST(user_id % 2 AS INT) AS v,
        |    epoch_us(ts) // 86400000000 AS dd,
        |    CAST(ROUND(value * 100) AS BIGINT) AS vc FROM events),
        |d0 AS (SELECT MIN(dd) AS d0 FROM ev),
        |pu AS (SELECT u, v,
        |    CAST(SUM(CASE WHEN dd - d0.d0 >= 15 THEN 0 ELSE vc END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN dd - d0.d0 >= 15 THEN vc ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM ev, d0 GROUP BY u, v),
        |m AS (SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
        |        SUM(CAST(y AS HUGEINT)) AS sy,
        |        SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |        SUM(CAST(y AS HUGEINT) * y) AS syy FROM pu),
        |pool AS (SELECT
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
        |    1.0 - (CAST(n * syy - sy * sy AS DOUBLE)
        |      - CAST(n * sxy - sx * sy AS DOUBLE)
        |        * CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE))
        |      / CAST(n * syy - sy * sy AS DOUBLE) AS var_reduction
        |  FROM m),
        |g AS (SELECT v AS variant, COUNT(*) AS n,
        |        SUM(CAST(x AS HUGEINT)) AS gx, SUM(CAST(y AS HUGEINT)) AS gy
        |      FROM pu GROUP BY v)
        |SELECT g.variant, g.n,
        |  ROUND(CAST(g.gy AS DOUBLE) / CAST(g.n AS DOUBLE) / 100.0, 4)
        |    AS mean_y,
        |  ROUND((CAST(g.gy AS DOUBLE) / CAST(g.n AS DOUBLE)
        |    - pool.theta * (CAST(g.gx AS DOUBLE) / CAST(g.n AS DOUBLE)
        |      - pool.xbar)) / 100.0, 4) AS mean_y_adj,
        |  ROUND(pool.theta, 4) AS theta,
        |  ROUND(pool.var_reduction, 4) AS var_reduction
        |FROM g, pool ORDER BY variant""".stripMargin,

    // DiD over the four variant×period cells: means and unpooled SE
    // from HUGEINT raw moments
    "ext_did" ->
      """WITH ev AS (SELECT CAST(user_id % 2 AS INT) AS v,
        |    epoch_us(ts) // 86400000000 AS dd,
        |    CAST(ROUND(value * 100) AS BIGINT) AS val FROM events),
        |d0 AS (SELECT MIN(dd) AS d0 FROM ev),
        |c AS (SELECT v, CASE WHEN dd - d0.d0 >= 15 THEN 1 ELSE 0 END AS p,
        |        val FROM ev, d0),
        |g AS (SELECT v, p, COUNT(*) AS n, SUM(CAST(val AS HUGEINT)) AS s,
        |        SUM(CAST(val AS HUGEINT) * val) AS ss FROM c GROUP BY v, p),
        |w AS (SELECT v, p, n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |        CAST(n * ss - s * s AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS s2
        |      FROM g),
        |f AS (SELECT
        |    MAX(CASE WHEN v = 0 AND p = 0 THEN m END) AS m00,
        |    MAX(CASE WHEN v = 0 AND p = 1 THEN m END) AS m01,
        |    MAX(CASE WHEN v = 1 AND p = 0 THEN m END) AS m10,
        |    MAX(CASE WHEN v = 1 AND p = 1 THEN m END) AS m11,
        |    MAX(CASE WHEN v = 0 AND p = 0 THEN s2 / CAST(n AS DOUBLE) END) AS q00,
        |    MAX(CASE WHEN v = 0 AND p = 1 THEN s2 / CAST(n AS DOUBLE) END) AS q01,
        |    MAX(CASE WHEN v = 1 AND p = 0 THEN s2 / CAST(n AS DOUBLE) END) AS q10,
        |    MAX(CASE WHEN v = 1 AND p = 1 THEN s2 / CAST(n AS DOUBLE) END) AS q11
        |  FROM w)
        |SELECT ROUND(m00 / 100.0, 4) AS ctrl_pre,
        |  ROUND(m01 / 100.0, 4) AS ctrl_post,
        |  ROUND(m10 / 100.0, 4) AS treat_pre,
        |  ROUND(m11 / 100.0, 4) AS treat_post,
        |  ROUND(((m11 - m10) - (m01 - m00)) / 100.0, 4) + 0.0 AS did,
        |  ROUND(sqrt(q00 + q01 + q10 + q11) / 100.0, 4) AS se,
        |  ROUND(CASE WHEN sqrt(q00 + q01 + q10 + q11) > 0.0 THEN
        |    ((m11 - m10) - (m01 - m00)) / sqrt(q00 + q01 + q10 + q11)
        |  END, 4) + 0.0 AS t
        |FROM f""".stripMargin,

    // last-touch attribution: argmax under the (ts, event_id) total
    // order, all shares exact integer ratios
    "ext_attribution" ->
      """WITH p AS (SELECT user_id, event_id AS pid, ts AS pts FROM events
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts AS tts, event_id AS tid,
        |        event_type AS ttype FROM events
        |      WHERE event_type IN ('click', 'view')),
        |j AS (SELECT p.pid, t.tts, t.tid, t.ttype
        |      FROM p JOIN t ON t.user_id = p.user_id
        |        AND t.tts <= p.pts
        |        AND t.tts >= p.pts - INTERVAL 24 HOURS),
        |last AS (SELECT pid, ttype AS channel FROM (
        |    SELECT pid, ttype, row_number() OVER (
        |      PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rn FROM j)
        |  WHERE rn = 1),
        |bc AS (SELECT channel, COUNT(*) AS n FROM last GROUP BY channel),
        |tot AS (SELECT COUNT(*) AS np FROM p),
        |na AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS na FROM bc),
        |allc AS (SELECT channel, CAST(n AS BIGINT) AS n FROM bc
        |         UNION ALL
        |         SELECT '(none)' AS channel, tot.np - na.na AS n FROM tot, na)
        |SELECT channel, n AS n_conversions,
        |  ROUND(CAST(n AS DOUBLE) / tot.np, 4) AS share
        |FROM allc, tot ORDER BY channel""".stripMargin,

    // HHI: both concentration numbers are ratios of exact integers
    "ext_hhi" ->
      """WITH c AS (SELECT hour(ts) AS hr, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT hr, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_types,
        |        CAST(SUM(c * c) AS BIGINT) AS ss FROM c GROUP BY hr)
        |SELECT hr, n, n_types,
        |  ROUND(CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE), 4) AS hhi,
        |  ROUND(CAST(n * n AS DOUBLE) / CAST(ss AS DOUBLE), 4) AS n_eff
        |FROM g ORDER BY hr""".stripMargin,

    // Holt smoothing: the recurrence folded over the hourly grid as a
    // LIST(DOUBLE) accumulator; α/β exact binary fractions, every cast
    // forced to DOUBLE so the literal arithmetic matches Spark's
    "ext_holt" ->
      s"""WITH hc AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type,
        |           GREATEST(CAST(epoch(MIN(h)) AS BIGINT) // 3600,
        |                    CAST(epoch(MAX(h)) AS BIGINT) // 3600
        |                      - ${Temporal.GridMaxSpanHours - 1}) AS eh0,
        |           CAST(epoch(MAX(h)) AS BIGINT) // 3600 AS eh1
        |         FROM hc GROUP BY event_type),
        |hours AS MATERIALIZED (
        |  SELECT s.event_type, CAST(g.eh AS BIGINT) AS eh
        |  FROM span s, unnest(range(s.eh0, s.eh1 + 1)) AS g(eh)),
        |hce AS (SELECT event_type, CAST(epoch(h) AS BIGINT) // 3600 AS eh, c
        |        FROM hc),
        |grid AS (
        |  SELECT hr.event_type, hr.eh, CAST(COALESCE(hce.c, 0) AS BIGINT) AS c
        |  FROM hours hr LEFT JOIN hce USING (event_type, eh)),
        |arr AS (SELECT event_type, list(CAST(c AS DOUBLE) ORDER BY eh) AS vs
        |        FROM grid GROUP BY event_type),
        |f AS (SELECT event_type, CAST(len(vs) AS INT) AS n_hours,
        |        list_reduce(
        |          list_prepend([vs[1], vs[2] - vs[1]],
        |            list_transform(vs[2:], x -> [x, CAST(0.0 AS DOUBLE)])),
        |          (acc, e) -> [
        |            CAST(0.5 AS DOUBLE) * e[1]
        |              + (CAST(1.0 AS DOUBLE) - CAST(0.5 AS DOUBLE))
        |                * (acc[1] + acc[2]),
        |            CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * e[1]
        |                + (CAST(1.0 AS DOUBLE) - CAST(0.5 AS DOUBLE))
        |                  * (acc[1] + acc[2])) - acc[1])
        |              + (CAST(1.0 AS DOUBLE) - CAST(0.25 AS DOUBLE)) * acc[2]])
        |          AS lt
        |      FROM arr WHERE len(vs) >= 2)
        |SELECT event_type, n_hours, ROUND(lt[1], 4) AS level,
        |  ROUND(lt[2], 4) AS trend,
        |  ROUND(lt[1] + CAST(1.0 AS DOUBLE) * lt[2], 4) AS fc1,
        |  ROUND(lt[1] + CAST(2.0 AS DOUBLE) * lt[2], 4) AS fc2,
        |  ROUND(lt[1] + CAST(3.0 AS DOUBLE) * lt[2], 4) AS fc3
        |FROM f ORDER BY event_type""".stripMargin,

    // runs test: exact 2-decimal day totals, quantile_cont/percentile
    // median pairing, z from the integer closed form
    "ext_runs_test" ->
      """WITH day AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s
        |  FROM events GROUP BY 1),
        |med AS (SELECT quantile_cont(s, 0.5) AS m FROM day),
        |sg AS (SELECT d, CASE WHEN CAST(s AS DOUBLE) > m THEN 1 ELSE 0 END
        |         AS above
        |       FROM day, med WHERE CAST(s AS DOUBLE) <> m),
        |r AS (SELECT d, above, LAG(above) OVER (ORDER BY d) AS prev FROM sg),
        |agg AS (SELECT COUNT(*) AS n_days, CAST(SUM(above) AS BIGINT) AS n_above,
        |          CAST(SUM(1 - above) AS BIGINT) AS n_below,
        |          CAST(SUM(CASE WHEN prev IS NULL OR prev <> above
        |            THEN 1 ELSE 0 END) AS BIGINT) AS runs
        |        FROM r)
        |SELECT n_days, n_above, n_below, runs,
        |  ROUND(CASE WHEN n_above > 0 AND n_below > 0
        |      AND 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |        * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |          - (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)))
        |        / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |          * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |          * ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) - 1.0))
        |        > 0.0 THEN
        |    (CAST(runs AS DOUBLE)
        |      - (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |        / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) + 1.0))
        |    / sqrt(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |        * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |          - (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)))
        |        / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |          * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
        |          * ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) - 1.0)))
        |  END, 4) + 0.0 AS z
        |FROM agg""".stripMargin,

    // WoE/IV with add-one smoothing: ln of an exact integer-product
    // ratio, IV folded in bin order
    "ext_woe_iv" ->
      """WITH r AS (SELECT CAST(ROUND(value * 100) AS BIGINT) // 1000 AS bin,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |g AS (SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS g
        |      FROM r GROUP BY bin),
        |g2 AS (SELECT bin, n, g, n - g AS b FROM g),
        |tot AS (SELECT CAST(SUM(g) AS BIGINT) AS gt,
        |          CAST(SUM(b) AS BIGINT) AS bt, COUNT(*) AS k FROM g2),
        |sm AS (SELECT bin, n, g, b, g + 1 AS g1, b + 1 AS b1,
        |         tot.gt + tot.k AS gd, tot.bt + tot.k AS bd,
        |         ln(CAST((g + 1) * (tot.bt + tot.k) AS DOUBLE)
        |           / CAST((b + 1) * (tot.gt + tot.k) AS DOUBLE)) AS woe
        |       FROM g2, tot),
        |sc AS (SELECT bin, n, g, woe,
        |         (CAST(g1 AS DOUBLE) / CAST(gd AS DOUBLE)
        |           - CAST(b1 AS DOUBLE) / CAST(bd AS DOUBLE)) * woe AS contrib
        |       FROM sm),
        |iv AS (SELECT list_reduce(list(contrib ORDER BY bin),
        |         (a, b) -> a + b) AS iv FROM sc)
        |SELECT sc.bin, sc.n, sc.g AS pos, ROUND(sc.woe, 4) + 0.0 AS woe,
        |  ROUND(iv.iv, 4) + 0.0 AS iv
        |FROM sc, iv ORDER BY bin""".stripMargin,

    // Adamic–Adar on the user co-activity graph: contributions grouped
    // by exact integer degree, folded ascending — engine-identical sum
    "ext_adamic_adar" ->
      s"""WITH $coActivityCtes,
         |adj AS (SELECT a AS v, b AS n FROM cand
         |        UNION ALL SELECT b AS v, a AS n FROM cand),
         |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY v),
         |w AS (SELECT l.n AS x, r.n AS y, l.v AS z
         |      FROM adj l JOIN adj r ON l.v = r.v AND l.n < r.n),
         |nw AS (SELECT w.x, w.y, w.z FROM w
         |       ANTI JOIN cand ON cand.a = w.x AND cand.b = w.y),
         |gd AS (SELECT x, y, d, COUNT(*) AS cnt FROM nw
         |       JOIN deg ON deg.v = nw.z GROUP BY x, y, d),
         |sc AS (SELECT x, y, list_reduce(
         |         list(CAST(cnt AS DOUBLE) / ln(CAST(d AS DOUBLE)) ORDER BY d),
         |         (a, b) -> a + b) AS score FROM gd GROUP BY x, y),
         |top AS (SELECT x, y, ROUND(score, 4) AS aa FROM sc
         |        ORDER BY aa DESC, x, y LIMIT 20)
         |SELECT x AS doc_a, y AS doc_b, aa FROM top
         |ORDER BY aa DESC, doc_a, doc_b""".stripMargin,
  )

  /** DuckDB twin of [[coActivityEdges]], ending in `cand(a, b)`.
    * lazy: declared after `oracles`, which forces `oraclesTail` (and
    * thus this) during object init — the [[bpeSql]] ordering rule. */
  private lazy val coActivityCtes: String =
    """ua AS (SELECT DISTINCT user_id,
      |        epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
      |        event_type FROM events),
      |cand AS MATERIALIZED (SELECT l.user_id AS a, r.user_id AS b
      |         FROM ua l JOIN ua r
      |           ON l.h = r.h AND l.event_type = r.event_type
      |             AND l.user_id < r.user_id
      |         GROUP BY 1, 2 HAVING COUNT(*) >= 4)""".stripMargin

  /** Generated BFS oracle mirroring [[graft.ext.Graph.bfsLayers]] over
    * the co-activity graph: `rounds` unrolled MATERIALIZED frontier
    * expansions with a MIN-distance merge; the Spark side throws if its
    * frontier outlives the unroll. Unreached nodes → dist −1. */
  private def bfsSql(rounds: Int): String = {
    val chain = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT v, MIN(d) AS d FROM (
         |  SELECT v, d FROM k${i - 1}
         |  UNION ALL
         |  SELECT adj.n AS v, $i AS d FROM adj
         |  JOIN k${i - 1} f ON f.v = adj.v AND f.d = ${i - 1})
         |GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coActivityCtes,
       |adj AS (SELECT a AS v, b AS n FROM cand
       |        UNION ALL SELECT b AS v, a AS n FROM cand),
       |nodes AS (SELECT DISTINCT v FROM adj),
       |src AS (SELECT MIN(v) AS s FROM nodes),
       |k0 AS (SELECT s AS v, 0 AS d FROM src),
       |$chain,
       |hist AS (SELECT CAST(d AS INT) AS dist, COUNT(*) AS n_nodes
       |         FROM k$rounds GROUP BY d),
       |unreached AS (SELECT CAST(-1 AS INT) AS dist, COUNT(*) AS n_nodes
       |  FROM nodes WHERE v NOT IN (SELECT v FROM k$rounds)
       |  HAVING COUNT(*) > 0)
       |SELECT dist, n_nodes FROM hist
       |UNION ALL SELECT dist, n_nodes FROM unreached
       |ORDER BY dist""".stripMargin
  }

  /** Generated all-pairs-BFS closeness oracle mirroring
    * [[graft.ext.Graph.closenessCentrality]] over the
    * [[graft.ext.Graph.inducedSlice]] subgraph (same md5-smallest node
    * sample — both engines hash the same string — so the oracle's
    * V²-per-round chain is bounded at ClosenessSliceNodes² at any sweep
    * scale): the [[bfsSql]] unroll with a `src` dimension (k0 = every
    * node at distance 0 from itself), then per-src exact integer
    * distance sums and the distance-ordered harmonic fold. */
  private def closenessSql(rounds: Int): String = {
    val chain = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src, v, MIN(d) AS d FROM (
         |  SELECT src, v, d FROM k${i - 1}
         |  UNION ALL
         |  SELECT f.src, adj.n AS v, $i AS d FROM adj
         |  JOIN k${i - 1} f ON f.v = adj.v AND f.d = ${i - 1})
         |GROUP BY src, v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coActivityCtes,
       |cand0 AS MATERIALIZED (SELECT a, b FROM cand),
       |nodes0 AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT a AS v FROM cand0 UNION ALL SELECT b AS v FROM cand0)),
       |keep AS MATERIALIZED (SELECT v FROM nodes0
       |         ORDER BY md5('cslice' || CAST(v AS VARCHAR)), v
       |         LIMIT ${Graph.ClosenessSliceNodes}),
       |cand2 AS MATERIALIZED (SELECT a, b FROM cand0
       |          WHERE a IN (SELECT v FROM keep)
       |            AND b IN (SELECT v FROM keep)),
       |adj AS (SELECT a AS v, b AS n FROM cand2
       |        UNION ALL SELECT b AS v, a AS n FROM cand2),
       |nodes AS (SELECT DISTINCT v FROM adj),
       |k0 AS (SELECT v AS src, v, 0 AS d FROM nodes),
       |$chain,
       |per AS (SELECT src, COUNT(*) - 1 AS n_reached,
       |          MAX(d) AS ecc, CAST(SUM(d) AS BIGINT) AS sum_dist
       |        FROM k$rounds GROUP BY src),
       |h AS (SELECT src, list_reduce(list(CAST(cnt AS DOUBLE) / d ORDER BY d),
       |        (a, b) -> a + b) AS harmonic
       |      FROM (SELECT src, d, COUNT(*) AS cnt FROM k$rounds
       |            WHERE d > 0 GROUP BY 1, 2)
       |      GROUP BY src)
       |SELECT per.src AS user_id, per.n_reached, per.ecc, per.sum_dist,
       |  CASE WHEN per.sum_dist > 0 THEN
       |    ROUND(CAST(per.n_reached AS DOUBLE)
       |      / CAST(per.sum_dist AS DOUBLE), 4) END AS closeness,
       |  ROUND(COALESCE(h.harmonic, 0.0), 4) AS harmonic
       |FROM per LEFT JOIN h USING (src) ORDER BY user_id""".stripMargin
  }

  /** Oracle mirroring [[graft.ext.Graph.approxCloseness]]: the same
    * unrolled-BFS chain as [[closenessSql]] but seeded from the `k`
    * md5-smallest pivot nodes (both engines hash the same string, so
    * the sample is identical); the Eppstein–Wang estimate
    * r(n−1)/(nS) is one division of exact BIGINT products. */
  private def approxClosenessSql(rounds: Int, k: Int): String = {
    val chain = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src, v, MIN(d) AS d FROM (
         |  SELECT src, v, d FROM k${i - 1}
         |  UNION ALL
         |  SELECT f.src, adj.n AS v, $i AS d FROM adj
         |  JOIN k${i - 1} f ON f.v = adj.v AND f.d = ${i - 1})
         |GROUP BY src, v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coActivityCtes,
       |adj AS (SELECT a AS v, b AS n FROM cand
       |        UNION ALL SELECT b AS v, a AS n FROM cand),
       |nodes AS (SELECT DISTINCT v FROM adj),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |pv AS (SELECT v FROM nodes
       |       ORDER BY md5('ccap' || CAST(v AS VARCHAR)), v LIMIT $k),
       |k0 AS (SELECT v AS src, v, 0 AS d FROM pv),
       |$chain,
       |per AS (SELECT v AS user_id, COUNT(*) AS k_reached,
       |          CAST(SUM(d) AS BIGINT) AS sum_dist
       |        FROM k$rounds WHERE d > 0 GROUP BY v)
       |SELECT user_id, k_reached, sum_dist,
       |  ROUND(CAST(k_reached * (nn.n - 1) AS DOUBLE)
       |    / CAST(sum_dist * nn.n AS DOUBLE), 4) AS closeness_hat
       |FROM per, nn ORDER BY user_id""".stripMargin
  }

  /** Shared CTE tail for the CH/DB validity oracles: the final-round
    * per-row min (d, cid) over the [[kmeansCtes]] score table s1, plus
    * the grid-rounded GLOBAL centroid. */
  private def validityCtes(dim: Int): String =
    s"""w0 AS (SELECT vec_id, cid, d FROM (
       |  SELECT vec_id, cid, d,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
       |  FROM s1) WHERE r = 1),
       |gm AS (SELECT t.j AS j,
       |         floor(SUM(e.e[CAST(t.j AS INT)]) / COUNT(*) * 1048576.0 + 0.5)
       |           / 1048576.0 AS gc
       |       FROM e, unnest(range(1, ${dim + 1})) AS t(j) GROUP BY j),
       |gg AS (SELECT list(gc ORDER BY j) AS ge FROM gm)""".stripMargin

  /** Calinski–Harabasz oracle mirroring [[graft.ext.Similarity.chIndex]]. */
  private def chSql: String =
    s"""WITH ${kmeansCtes(8, 1, 64)},
       |${validityCtes(64)},
       |w AS (SELECT cid AS cluster, COUNT(*) AS n,
       |        CAST(SUM(CAST(ROUND(ROUND(GREATEST(d, 0.0), 4) * 10000)
       |          AS BIGINT)) AS BIGINT) AS w4c
       |      FROM w0 GROUP BY cid),
       |b AS (SELECT c1.cid AS cluster,
       |        list_dot_product(c1.ce, c1.ce)
       |          - 2.0 * list_dot_product(c1.ce, gg.ge)
       |          + list_dot_product(gg.ge, gg.ge) AS b2
       |      FROM c1, gg),
       |f AS (SELECT CAST(SUM(w.n) AS BIGINT) AS n, COUNT(*) AS k,
       |        CAST(SUM(w.w4c) AS BIGINT) AS w4,
       |        CAST(SUM(w.n * CAST(ROUND(ROUND(GREATEST(b.b2, 0.0), 4) * 10000)
       |          AS BIGINT)) AS BIGINT) AS b4
       |      FROM w JOIN b USING (cluster))
       |SELECT n, k, ROUND(b4 / 10000.0, 4) AS ssb, ROUND(w4 / 10000.0, 4) AS ssw,
       |  CASE WHEN k > 1 AND n > k AND w4 > 0 THEN
       |    ROUND(CAST(b4 * (n - k) AS DOUBLE)
       |      / CAST(w4 * (k - 1) AS DOUBLE), 4) END AS ch
       |FROM f""".stripMargin

  /** Davies–Bouldin oracle mirroring [[graft.ext.Similarity.dbIndex]]. */
  private def dbSql: String =
    s"""WITH ${kmeansCtes(8, 1, 64)},
       |${validityCtes(64)},
       |sc AS (SELECT cid, COUNT(*) AS n,
       |         CAST(SUM(CAST(ROUND(ROUND(sqrt(GREATEST(d, 0.0)), 4) * 10000)
       |           AS BIGINT)) AS BIGINT) AS s4
       |       FROM w0 GROUP BY cid),
       |pair AS (SELECT i.cid AS ci, j.cid AS cj,
       |           CAST(ROUND(ROUND(sqrt(GREATEST(
       |             list_dot_product(i.ce, i.ce)
       |               - 2.0 * list_dot_product(i.ce, j.ce)
       |               + list_dot_product(j.ce, j.ce), 0.0)), 4) * 10000)
       |             AS BIGINT) AS d4
       |         FROM c1 i JOIN c1 j ON i.cid <> j.cid),
       |r AS (SELECT p.ci,
       |        MAX((CAST(si.s4 AS DOUBLE) / si.n + CAST(sj.s4 AS DOUBLE) / sj.n)
       |          / CAST(p.d4 AS DOUBLE)) AS rmax
       |      FROM pair p JOIN sc si ON si.cid = p.ci
       |      JOIN sc sj ON sj.cid = p.cj
       |      WHERE p.d4 > 0 GROUP BY p.ci),
       |db AS (SELECT list_reduce(list(rmax ORDER BY ci), (a, b) -> a + b)
       |         / COUNT(*) AS db FROM r)
       |SELECT sc.cid AS cluster, sc.n,
       |  ROUND(CAST(sc.s4 AS DOUBLE) / CAST(sc.n * 10000 AS DOUBLE), 4)
       |    AS scatter,
       |  ROUND(r.rmax, 4) AS r_max, ROUND(db.db, 4) AS db
       |FROM sc JOIN r ON r.ci = sc.cid, db ORDER BY cluster""".stripMargin

  /** Generated B-cubed oracle over the [[kmeansCtes]] assignment. */
  private def bcubedSql: String =
    s"""WITH ${kmeansCtes(8, 1, 64)},
       |j AS (SELECT a1.vec_id, a1.cid AS cluster, em.label
       |      FROM a1 JOIN embeddings em ON em.vec_id = a1.vec_id),
       |cells AS (SELECT cluster, label, CAST(COUNT(*) AS BIGINT) AS c
       |          FROM j GROUP BY 1, 2),
       |nc AS (SELECT cluster, CAST(SUM(c) AS BIGINT) AS ncl FROM cells
       |       GROUP BY cluster),
       |nl AS (SELECT label, CAST(SUM(c) AS BIGINT) AS nlb FROM cells
       |       GROUP BY label),
       |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
       |t AS (SELECT cells.cluster, cells.label,
       |        CAST(cells.c * cells.c AS DOUBLE)
       |          / CAST(nc.ncl * nn.n AS DOUBLE) AS pt,
       |        CAST(cells.c * cells.c AS DOUBLE)
       |          / CAST(nl.nlb * nn.n AS DOUBLE) AS rt
       |      FROM cells JOIN nc USING (cluster) JOIN nl USING (label), nn),
       |agg2 AS (SELECT
       |    list_reduce(list(pt ORDER BY cluster, label), (a, b) -> a + b) AS p,
       |    list_reduce(list(rt ORDER BY cluster, label), (a, b) -> a + b) AS r
       |  FROM t)
       |SELECT nn.n, ROUND(agg2.p, 4) AS bcubed_precision,
       |  ROUND(agg2.r, 4) AS bcubed_recall,
       |  ROUND(2.0 * agg2.p * agg2.r / (agg2.p + agg2.r), 4) AS bcubed_f1
       |FROM nn, agg2""".stripMargin

  /** Rand/ARI oracle: same kmeans CTEs, doubled pair counts in HUGEINT
    * (Spark side carries them in DECIMAL(38,0) — both exact). */
  private def clusterAriSql: String =
    s"""WITH ${kmeansCtes(8, 1, 64)},
       |j AS (SELECT a1.vec_id, a1.cid AS cluster, em.label
       |      FROM a1 JOIN embeddings em ON em.vec_id = a1.vec_id),
       |cells AS (SELECT cluster, label, CAST(COUNT(*) AS BIGINT) AS c
       |          FROM j GROUP BY 1, 2),
       |sc AS (SELECT CAST(SUM(c * (c - 1)) AS HUGEINT) AS sc FROM cells),
       |sa AS (SELECT CAST(SUM(a * (a - 1)) AS HUGEINT) AS sa,
       |         CAST(SUM(a) AS HUGEINT) AS n
       |       FROM (SELECT CAST(SUM(c) AS BIGINT) AS a FROM cells
       |             GROUP BY cluster)),
       |sb AS (SELECT CAST(SUM(b * (b - 1)) AS HUGEINT) AS sb
       |       FROM (SELECT CAST(SUM(c) AS BIGINT) AS b FROM cells
       |             GROUP BY label)),
       |f AS (SELECT sc.sc, sa.sa, sa.n, sb.sb, sa.n * (sa.n - 1) AS m
       |      FROM sc, sa, sb)
       |SELECT CAST(n AS BIGINT) AS n,
       |  ROUND(CAST(m + 2 * sc - sa - sb AS DOUBLE) / CAST(m AS DOUBLE), 4)
       |    AS rand_index,
       |  ROUND(CAST(2 * (m * sc - sa * sb) AS DOUBLE)
       |    / CAST(m * (sa + sb) - 2 * sa * sb AS DOUBLE), 4) AS ari
       |FROM f""".stripMargin

  /** NMI oracle: integer-ln terms folded in cell order. */
  private def clusterNmiSql: String =
    s"""WITH ${kmeansCtes(8, 1, 64)},
       |j AS (SELECT a1.vec_id, a1.cid AS cluster, em.label
       |      FROM a1 JOIN embeddings em ON em.vec_id = a1.vec_id),
       |cells AS (SELECT cluster, label, CAST(COUNT(*) AS BIGINT) AS c
       |          FROM j GROUP BY 1, 2),
       |nc AS (SELECT cluster, CAST(SUM(c) AS BIGINT) AS a FROM cells
       |       GROUP BY cluster),
       |nl AS (SELECT label, CAST(SUM(c) AS BIGINT) AS b FROM cells
       |       GROUP BY label),
       |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
       |t AS (SELECT cells.cluster, cells.label,
       |        CAST(cells.c AS DOUBLE)
       |          * (ln(nn.n) + ln(cells.c) - ln(nc.a) - ln(nl.b)) AS t
       |      FROM cells JOIN nc USING (cluster) JOIN nl USING (label), nn),
       |smi AS (SELECT list_reduce(list(t ORDER BY cluster, label),
       |          (x, y) -> x + y) AS smi FROM t),
       |sha AS (SELECT list_reduce(list(CAST(a AS DOUBLE) * ln(a)
       |          ORDER BY cluster), (x, y) -> x + y) AS sa FROM nc),
       |shb AS (SELECT list_reduce(list(CAST(b AS DOUBLE) * ln(b)
       |          ORDER BY label), (x, y) -> x + y) AS sb FROM nl),
       |f AS (SELECT nn.n, smi.smi / nn.n AS mi,
       |        ln(nn.n) - sha.sa / nn.n AS hc,
       |        ln(nn.n) - shb.sb / nn.n AS hl
       |      FROM nn, smi, sha, shb)
       |SELECT n, ROUND(mi, 4) AS mi, ROUND(hc, 4) AS h_cluster,
       |  ROUND(hl, 4) AS h_label,
       |  ROUND(2.0 * mi / (hc + hl), 4) AS nmi
       |FROM f""".stripMargin

  /** V-measure oracle: the [[clusterNmiSql]] entropy folds rearranged
    * into conditional entropies. */
  private def vMeasureSql: String =
    s"""WITH ${kmeansCtes(8, 1, 64)},
       |j AS (SELECT a1.vec_id, a1.cid AS cluster, em.label
       |      FROM a1 JOIN embeddings em ON em.vec_id = a1.vec_id),
       |cells AS (SELECT cluster, label, CAST(COUNT(*) AS BIGINT) AS c
       |          FROM j GROUP BY 1, 2),
       |nc AS (SELECT cluster, CAST(SUM(c) AS BIGINT) AS a FROM cells
       |       GROUP BY cluster),
       |nl AS (SELECT label, CAST(SUM(c) AS BIGINT) AS b FROM cells
       |       GROUP BY label),
       |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
       |scc AS (SELECT list_reduce(list(CAST(c AS DOUBLE) * ln(c)
       |          ORDER BY cluster, label), (x, y) -> x + y) AS scc FROM cells),
       |sha AS (SELECT list_reduce(list(CAST(a AS DOUBLE) * ln(a)
       |          ORDER BY cluster), (x, y) -> x + y) AS sa FROM nc),
       |shb AS (SELECT list_reduce(list(CAST(b AS DOUBLE) * ln(b)
       |          ORDER BY label), (x, y) -> x + y) AS sb FROM nl),
       |f AS (SELECT nn.n,
       |        (sha.sa - scc.scc) / nn.n AS hlc,
       |        (shb.sb - scc.scc) / nn.n AS hcl,
       |        ln(nn.n) - shb.sb / nn.n AS hl,
       |        ln(nn.n) - sha.sa / nn.n AS hc
       |      FROM nn, scc, sha, shb),
       |g AS (SELECT n,
       |        CASE WHEN hl > 0.0 THEN 1.0 - hlc / hl ELSE 1.0 END AS h,
       |        CASE WHEN hc > 0.0 THEN 1.0 - hcl / hc ELSE 1.0 END AS cm
       |      FROM f)
       |SELECT n, ROUND(h, 4) AS homogeneity, ROUND(cm, 4) AS completeness,
       |  CASE WHEN h + cm > 0.0 THEN ROUND(2.0 * h * cm / (h + cm), 4)
       |       ELSE 0.0 END AS v_measure
       |FROM g""".stripMargin

  /** Generated Brier oracle mirroring [[brierQ]]. */
  private def brierSql: String =
    s"""${linearProbeWithBody(16)},
       |sc AS (SELECT f.doc_id, CAST(f.y AS BIGINT) AS y,
       |         ROUND($probePred, 4) AS sc,
       |         CAST(ROUND(ROUND($probePred, 4) * 10000) AS BIGINT) AS si
       |       FROM f, w16 w),
       |bn AS (SELECT y, si, NTILE(10) OVER (ORDER BY sc, doc_id) AS bin
       |       FROM sc),
       |k AS (SELECT bin, COUNT(*) AS nb, CAST(SUM(y) AS BIGINT) AS pb,
       |        CAST(SUM(si) AS BIGINT) AS sb,
       |        SUM(CAST(si - 10000 * y AS HUGEINT) * (si - 10000 * y)) AS se2
       |      FROM bn GROUP BY bin),
       |tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS n,
       |          CAST(SUM(pb) AS BIGINT) AS p, SUM(se2) AS se2 FROM k),
       |terms AS (SELECT k.bin,
       |    CAST(k.nb AS DOUBLE) / CAST(tot.n AS DOUBLE)
       |      * (CAST(k.sb AS DOUBLE) / CAST(k.nb * 10000 AS DOUBLE)
       |        - CAST(k.pb AS DOUBLE) / CAST(k.nb AS DOUBLE))
       |      * (CAST(k.sb AS DOUBLE) / CAST(k.nb * 10000 AS DOUBLE)
       |        - CAST(k.pb AS DOUBLE) / CAST(k.nb AS DOUBLE)) AS rel_t,
       |    CAST(k.nb AS DOUBLE) / CAST(tot.n AS DOUBLE)
       |      * (CAST(k.pb AS DOUBLE) / CAST(k.nb AS DOUBLE)
       |        - CAST(tot.p AS DOUBLE) / CAST(tot.n AS DOUBLE))
       |      * (CAST(k.pb AS DOUBLE) / CAST(k.nb AS DOUBLE)
       |        - CAST(tot.p AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS res_t
       |  FROM k, tot),
       |agg2 AS (SELECT
       |    list_reduce(list(rel_t ORDER BY bin), (a, b) -> a + b) AS rel,
       |    list_reduce(list(res_t ORDER BY bin), (a, b) -> a + b) AS res
       |  FROM terms)
       |SELECT tot.n,
       |  ROUND(CAST(tot.se2 AS DOUBLE)
       |    / (CAST(tot.n AS DOUBLE) * 100000000.0), 4) AS brier,
       |  ROUND(agg2.rel, 4) AS reliability,
       |  ROUND(agg2.res, 4) AS resolution,
       |  ROUND(CAST(tot.p AS DOUBLE) / CAST(tot.n AS DOUBLE)
       |    * (1.0 - CAST(tot.p AS DOUBLE) / CAST(tot.n AS DOUBLE)), 4)
       |    AS uncertainty
       |FROM tot, agg2""".stripMargin

  /** Generated probe precision/recall oracle mirroring [[probePrQ]]. */
  private def probePrSql(th100s: Seq[Int]): String = {
    val legs = th100s.map { t =>
      val th = t * 100
      s"""SELECT $t AS th100,
         |  CAST(SUM(CASE WHEN y = 1 AND si >= $th THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(SUM(CASE WHEN y = 0 AND si >= $th THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(SUM(CASE WHEN y = 1 AND si < $th THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(SUM(CASE WHEN y = 0 AND si < $th THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |FROM sc""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${linearProbeWithBody(16)},
       |sc AS (SELECT CAST(f.y AS INT) AS y,
       |         CAST(ROUND(ROUND($probePred, 4) * 10000) AS BIGINT) AS si
       |       FROM f, w16 w),
       |cm AS ($legs)
       |SELECT th100, tp, fp, fn, tn,
       |  ROUND(CASE WHEN tp + fp > 0 THEN
       |    CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END, 4) AS prec,
       |  ROUND(CASE WHEN tp + fn > 0 THEN
       |    CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END, 4) AS recall,
       |  ROUND(CASE WHEN 2 * tp + fp + fn > 0 THEN
       |    CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END, 4)
       |    AS f1,
       |  ROUND(CASE WHEN (tp + fp) * (tp + fn) > 0
       |      AND (tn + fp) * (tn + fn) > 0 THEN
       |    CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn AS DOUBLE)
       |      / sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
       |        * (tn + fp) * (tn + fn) AS DOUBLE)) END, 4) + 0.0 AS mcc,
       |  ROUND(CASE WHEN (CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
       |      + CAST(fn + tn AS DOUBLE) * CAST(fp + tn AS DOUBLE))
       |      / (CAST(tp + fp + fn + tn AS DOUBLE)
       |        * CAST(tp + fp + fn + tn AS DOUBLE)) < 1.0 THEN
       |    (CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
       |      - (CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
       |        + CAST(fn + tn AS DOUBLE) * CAST(fp + tn AS DOUBLE))
       |        / (CAST(tp + fp + fn + tn AS DOUBLE)
       |          * CAST(tp + fp + fn + tn AS DOUBLE)))
       |    / (1.0 - (CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
       |        + CAST(fn + tn AS DOUBLE) * CAST(fp + tn AS DOUBLE))
       |        / (CAST(tp + fp + fn + tn AS DOUBLE)
       |          * CAST(tp + fp + fn + tn AS DOUBLE))) END, 4) + 0.0 AS kappa
       |FROM cm ORDER BY th100""".stripMargin
  }

  /** Generated MMR oracle mirroring [[graft.ext.Similarity.mmrSelect]]:
    * the greedy loop unrolled — per step an integer argmax of
    * ri − MAX(si over the selected set), (sc DESC, vec_id) order. */
  private def mmrSql(queryId: Long, topN: Int, k: Int): String = {
    val steps = (2 to k).map { i =>
      s"""p$i AS (SELECT c.vec_id, c.ri - MAX(s.si) AS sc FROM cand c
         |  JOIN sims s ON s.va = c.vec_id
         |    AND s.vb IN (SELECT vec_id FROM sel${i - 1})
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  GROUP BY c.vec_id, c.ri),
         |s$i AS (SELECT vec_id, sc FROM p$i ORDER BY sc DESC, vec_id LIMIT 1),
         |sel$i AS (SELECT vec_id FROM sel${i - 1}
         |          UNION ALL SELECT vec_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k).map(i => s"SELECT $i AS step, vec_id, sc FROM s$i")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |q AS (SELECT e AS qe FROM e WHERE vec_id = $queryId),
       |rel AS (SELECT c.vec_id, c.e,
       |    ROUND(list_dot_product(c.e, q.qe) / (sqrt(list_dot_product(c.e, c.e))
       |      * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos
       |  FROM e c, q WHERE c.vec_id <> $queryId),
       |cand AS (SELECT vec_id, e, CAST(ROUND(cos * 10000) AS BIGINT) AS ri
       |  FROM (SELECT * FROM rel ORDER BY cos DESC, vec_id LIMIT $topN)),
       |sims AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |    CAST(ROUND(ROUND(list_dot_product(a.e, b.e)
       |      / (sqrt(list_dot_product(a.e, a.e))
       |        * sqrt(list_dot_product(b.e, b.e))), 4) * 10000) AS BIGINT) AS si
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |s1 AS (SELECT vec_id, ri AS sc FROM cand ORDER BY ri DESC, vec_id LIMIT 1),
       |sel1 AS (SELECT vec_id FROM s1),
       |$steps
       |SELECT step, vec_id, CAST(sc AS DOUBLE) / 10000.0 AS mmr FROM (
       |$union) ORDER BY step""".stripMargin
  }

  /** Generated k-core oracle mirroring [[graft.ext.Graph.kCoreSummary]]:
    * per k an 8-round unrolled peel (each round a degree rollup + a
    * both-endpoints filter, MATERIALIZED so the chain doesn't inline
    * exponentially); the Spark side THROWS if its fixpoint needs more
    * rounds than unrolled here, so extra oracle rounds are no-ops. */
  private def kcoreSql(ks: Seq[Int], rounds: Int): String = {
    def leg(k: Int): String = {
      val chain = (1 to rounds).map { i =>
        s"""d${k}_$i AS (SELECT v, COUNT(*) AS dg FROM (
           |  SELECT a AS v FROM e${k}_${i - 1}
           |  UNION ALL SELECT b AS v FROM e${k}_${i - 1}) GROUP BY v),
           |e${k}_$i AS MATERIALIZED (SELECT e.a, e.b FROM e${k}_${i - 1} e
           |  JOIN d${k}_$i da ON da.v = e.a AND da.dg >= $k
           |  JOIN d${k}_$i db ON db.v = e.b AND db.dg >= $k)""".stripMargin
      }.mkString(",\n")
      s"e${k}_0 AS (SELECT a, b FROM cand),\n$chain"
    }
    val legs = ks.map(leg).mkString(",\n")
    val sums = ks.map { k =>
      s"""s$k AS (SELECT CAST($k AS INT) AS k,
         |  (SELECT COUNT(*) FROM (SELECT a AS v FROM e${k}_$rounds
         |     UNION SELECT b AS v FROM e${k}_$rounds)) AS n_nodes,
         |  (SELECT COUNT(*) FROM e${k}_$rounds) AS n_edges)""".stripMargin
    }.mkString(",\n")
    val union = ks.map(k => s"SELECT * FROM s$k").mkString("\nUNION ALL\n")
    s"WITH $coActivityCtes,\n$legs,\n$sums\n$union\nORDER BY k"
  }

  /** Generated ranking-eval oracle mirroring [[graft.ext.Retrieval
    * .rankingEval]] over the [[bm25Ctes]] scored set: graded relevance
    * from the SAME tf columns, ideal DCG from relevance-level counts
    * (never a global sort), StableRound on the gain sums. */
  /** Corr-matrix oracle mirroring [[graft.ext.Profile.corrMatrix]]:
    * HUGEINT raw moments off one scan (Spark carries DECIMAL(38,0) —
    * both exact), identical r assembly per pair. */
  private def corrMatrixSql(cols: Seq[String]): String = {
    val vCols = cols.map(c =>
      s"CAST(ROUND($c * 100) AS HUGEINT) AS v_$c").mkString(",\n|    ")
    val notNull = cols.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val moments = (cols.flatMap(c => Seq(
      s"SUM(v_$c) AS s_$c", s"SUM(v_$c * v_$c) AS q_$c")) ++
      pairs.map { case (a, b) => s"SUM(v_$a * v_$b) AS p_${a}_$b" })
      .mkString(",\n|    ")
    def dvar(c: String) = s"CAST(n * q_$c - s_$c * s_$c AS DOUBLE)"
    val legs = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
         |  CASE WHEN ${dvar(a)} > 0.0 AND ${dvar(b)} > 0.0 THEN
         |    ROUND(CAST(n * p_${a}_$b - s_$a * s_$b AS DOUBLE)
         |      / (sqrt(${dvar(a)}) * sqrt(${dvar(b)})), 4) END AS r
         |FROM t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT
       |    $vCols
       |  FROM lineitem WHERE $notNull),
       |t AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
       |    $moments
       |  FROM v)
       |$legs
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** Markov removal-effect attribution oracle mirroring
    * [[graft.ext.Temporal.markovAttribution]]: the journey/transition
    * CTEs, then one 25-step truncated-absorption chain per variant
    * (full + each hardcoded fixture channel removed), every iteration
    * a MATERIALIZED ≤S-row table with ascending-target list folds. */
  private def markovAttributionSql(channels: Seq[String], iters: Int): String = {
    def chain(tag: String, removed: Option[String]): String = {
      val rm = removed.map(c => s"WHEN s.st = '$c' THEN 0.0").getOrElse("")
      val steps = (1 to iters).map { k =>
        s"""x${tag}_$k AS MATERIALIZED (SELECT s.st,
           |  CASE WHEN s.st = '(conv)' THEN 1.0
           |       WHEN s.st = '(null)' THEN 0.0
           |       $rm
           |       ELSE COALESCE(f.v, 0.0) END AS x
           |  FROM states s LEFT JOIN (
           |    SELECT pm.i AS st,
           |      list_reduce(list(prev.x * pm.p ORDER BY pm.j),
           |        (a, b) -> a + b) AS v
           |    FROM pm JOIN x${tag}_${k - 1} prev ON prev.st = pm.j
           |    GROUP BY pm.i) f ON f.st = s.st)""".stripMargin
      }.mkString(",\n")
      s"""x${tag}_0 AS MATERIALIZED (SELECT st,
         |  CASE WHEN st = '(conv)' THEN 1.0 ELSE 0.0 END AS x FROM states),
         |$steps""".stripMargin
    }
    val chains = (chain("f", None) +:
      channels.zipWithIndex.map { case (c, i) => chain(s"c$i", Some(c)) })
      .mkString(",\n")
    val resRows = channels.zipWithIndex.map { case (c, i) =>
      s"SELECT '$c' AS channel, (SELECT x FROM xc${i}_$iters WHERE st = '(start)') AS p_removed"
    }.mkString("\nUNION ALL\n")
    s"""WITH seq AS (SELECT user_id, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS rn
       |  FROM events),
       |firstp AS (SELECT user_id, MIN(rn) AS pr FROM seq
       |           WHERE event_type = 'purchase' GROUP BY user_id),
       |touch AS (SELECT s.user_id, s.rn, s.event_type, f.pr
       |          FROM seq s LEFT JOIN firstp f USING (user_id)
       |          WHERE f.pr IS NULL OR s.rn < f.pr),
       |tr1 AS (SELECT COALESCE(LAG(event_type) OVER (
       |            PARTITION BY user_id ORDER BY rn), '(start)') AS f,
       |          event_type AS t
       |        FROM touch),
       |lastt AS (SELECT event_type AS f,
       |            CASE WHEN pr IS NOT NULL THEN '(conv)'
       |                 ELSE '(null)' END AS t
       |          FROM (SELECT user_id, event_type, pr,
       |                  ROW_NUMBER() OVER (PARTITION BY user_id
       |                    ORDER BY rn DESC) AS r
       |                FROM touch) WHERE r = 1),
       |sc AS (SELECT '(start)' AS f, '(conv)' AS t FROM firstp WHERE pr = 1),
       |tr AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |         SELECT f, t FROM tr1
       |         UNION ALL SELECT f, t FROM lastt
       |         UNION ALL SELECT f, t FROM sc) GROUP BY f, t),
       |states AS MATERIALIZED (
       |  SELECT st FROM (SELECT f AS st FROM tr UNION SELECT t FROM tr)),
       |ot AS (SELECT f, CAST(SUM(c) AS BIGINT) AS tot FROM tr GROUP BY f),
       |pm AS MATERIALIZED (SELECT si.st AS i, sj.st AS j,
       |        CASE WHEN ot.tot IS NULL THEN 0.0
       |             ELSE CAST(COALESCE(tr.c, 0) AS DOUBLE) / ot.tot END AS p
       |      FROM states si CROSS JOIN states sj
       |      LEFT JOIN ot ON ot.f = si.st
       |      LEFT JOIN tr ON tr.f = si.st AND tr.t = sj.st),
       |$chains,
       |pf AS (SELECT (SELECT x FROM xf_$iters WHERE st = '(start)')
       |         AS p_full),
       |res AS ($resRows),
       |tot2 AS (SELECT list_reduce(list(
       |           CASE WHEN pf.p_full > 0.0 THEN 1.0 - p_removed / pf.p_full
       |                ELSE 0.0 END ORDER BY channel),
       |           (a, b) -> a + b) AS s
       |         FROM res, pf)
       |SELECT res.channel, ROUND(pf.p_full, 4) AS p_full,
       |  ROUND(res.p_removed, 4) AS p_removed,
       |  CASE WHEN pf.p_full > 0.0 THEN
       |    ROUND(1.0 - res.p_removed / pf.p_full, 4) END AS removal_effect,
       |  CASE WHEN tot2.s > 0.0 AND pf.p_full > 0.0 THEN
       |    ROUND((1.0 - res.p_removed / pf.p_full) / tot2.s, 4) END AS share
       |FROM res, pf, tot2 ORDER BY channel""".stripMargin
  }

  /** Poisson-bootstrap oracle mirroring
    * [[graft.ext.Temporal.bootstrapCi]]: identical md5-uniform draws,
    * inverse-CDF thresholds interpolated from the SAME Scala doubles,
    * quantile_cont over the replicate means. */
  private def bootstrapSql(b: Int, salt: String): String = {
    val thresholds = {
      var fact = 1.0; var s = 0.0
      (0 to 5).map { k =>
        if (k > 0) fact *= k
        s += math.exp(-1.0) / fact
        s
      }
    }
    val caseExpr = thresholds.zipWithIndex
      .map { case (c, i) => s"WHEN u < $c THEN $i" }
      .mkString("CASE ", " ", " ELSE 6 END")
    s"""WITH v AS (SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS vc
       |  FROM events WHERE value IS NOT NULL),
       |rep AS (SELECT event_id, vc, CAST(t.di AS INT) AS di,
       |          md5('$salt:' || event_id || ':' || t.di) AS dg
       |        FROM v, unnest(range(0, ${(b + 3) / 4})) AS t(di)),
       |u AS (SELECT di * 4 + CAST(s.slot AS INT) + 1 AS bi, vc,
       |        (CAST('0x' || substr(dg, CAST(s.slot AS INT) * 8 + 1, 8)
       |          AS BIGINT) + 0.5) / 4294967296.0 AS u
       |      FROM rep, unnest(range(0, 4)) AS s(slot)
       |      WHERE di * 4 + s.slot + 1 <= $b),
       |kk AS (SELECT bi, vc, $caseExpr AS k FROM u),
       |m AS (SELECT bi, CAST(SUM(k * vc) AS BIGINT) AS skv,
       |        CAST(SUM(k) AS BIGINT) AS sk
       |      FROM kk GROUP BY bi),
       |mb AS (SELECT bi, CAST(skv AS DOUBLE) / CAST(sk * 100 AS DOUBLE) AS m
       |       FROM m WHERE sk > 0),
       |tot AS (SELECT COUNT(*) AS n, CAST(SUM(vc) AS BIGINT) AS s FROM v)
       |SELECT (SELECT COUNT(*) FROM mb) AS b, tot.n,
       |  ROUND(CAST(tot.s AS DOUBLE) / CAST(tot.n * 100 AS DOUBLE), 4) AS mean,
       |  (SELECT ROUND(quantile_cont(m, 0.025), 4) FROM mb) AS ci_lo,
       |  (SELECT ROUND(quantile_cont(m, 0.5), 4) FROM mb) AS ci_med,
       |  (SELECT ROUND(quantile_cont(m, 0.975), 4) FROM mb) AS ci_hi
       |FROM tot""".stripMargin
  }

  /** Holt–Winters oracle mirroring
    * [[graft.ext.Temporal.holtWintersForecast]]: the ext_holt LIST fold
    * with a (period+2)-element accumulator; l′ is repeated textually
    * exactly as Spark's shared subtree re-evaluates it. */
  private def hwSql(alpha: Double, beta: Double, gamma: Double,
      period: Int, horizon: Int): String = {
    val (a, oma) = (s"CAST($alpha AS DOUBLE)", s"CAST(${1.0 - alpha} AS DOUBLE)")
    val (b, omb) = (s"CAST($beta AS DOUBLE)", s"CAST(${1.0 - beta} AS DOUBLE)")
    val (g, omg) = (s"CAST($gamma AS DOUBLE)", s"CAST(${1.0 - gamma} AS DOUBLE)")
    val nl = s"$a * (e[1] - acc[3]) + $oma * (acc[1] + acc[2])"
    val fcs = (1 to horizon).map(h =>
      s"ROUND(st[1] + CAST($h.0 AS DOUBLE) * st[2] + st[${2 + h}], 4) AS fc$h")
      .mkString(",\n|  ")
    s"""WITH hc AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT event_type,
       |           GREATEST(CAST(epoch(MIN(h)) AS BIGINT) // 3600,
       |                    CAST(epoch(MAX(h)) AS BIGINT) // 3600
       |                      - ${Temporal.GridMaxSpanHours - 1}) AS eh0,
       |           CAST(epoch(MAX(h)) AS BIGINT) // 3600 AS eh1
       |         FROM hc GROUP BY event_type),
       |hours AS MATERIALIZED (
       |  SELECT s.event_type, CAST(g.eh AS BIGINT) AS eh
       |  FROM span s, unnest(range(s.eh0, s.eh1 + 1)) AS g(eh)),
       |hce AS (SELECT event_type, CAST(epoch(h) AS BIGINT) // 3600 AS eh, c
       |        FROM hc),
       |grid AS (
       |  SELECT hr.event_type, hr.eh, CAST(COALESCE(hce.c, 0) AS BIGINT) AS c
       |  FROM hours hr LEFT JOIN hce USING (event_type, eh)),
       |arr AS (SELECT event_type, list(CAST(c AS DOUBLE) ORDER BY eh) AS vs
       |        FROM grid GROUP BY event_type),
       |am AS (SELECT event_type, vs,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs[1:$period]),
       |           (x, y) -> x + y) / CAST($period.0 AS DOUBLE) AS m0
       |       FROM arr WHERE len(vs) >= ${2 * period}),
       |f AS (SELECT event_type, CAST(len(vs) AS INT) AS n_hours,
       |        list_reduce(
       |          list_prepend(
       |            list_concat([m0, CAST(0.0 AS DOUBLE)],
       |              list_transform(vs[1:$period], x -> x - m0)),
       |            list_transform(vs[${period + 1}:], x -> [x])),
       |          (acc, e) -> list_concat(list_concat(
       |            [$nl,
       |             $b * (($nl) - acc[1]) + $omb * acc[2]],
       |            acc[4:${period + 2}]),
       |            [$g * (e[1] - ($nl)) + $omg * acc[3]])) AS st
       |      FROM am)
       |SELECT event_type, n_hours, ROUND(st[1], 4) AS level,
       |  ROUND(st[2], 4) AS trend,
       |  $fcs
       |FROM f ORDER BY event_type""".stripMargin
  }

  /** ERR@depth oracle mirroring [[graft.ext.Retrieval.errEval]]: the
    * same bm25 top list, cascade fold via the LIST(DOUBLE)-accumulator
    * list_reduce (acc = [err, p-continue], elements [R_r, r]). */
  private def errSql(terms: Seq[String], depth: Int): String = {
    val relExpr = terms.indices
      .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    val gmax = math.pow(2.0, terms.size)
    s"""WITH ${bm25Ctes(terms, 1.2, 0.75)},
       |rel AS (SELECT doc_id, CAST($relExpr AS BIGINT) AS rel FROM dls),
       |top AS (SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r,
       |          doc_id
       |        FROM bm ORDER BY bm25 DESC, doc_id LIMIT $depth),
       |t2 AS (SELECT t.r,
       |         (pow(2.0, rel.rel) - 1.0) / $gmax AS rr
       |       FROM top t JOIN rel USING (doc_id)),
       |f AS (SELECT COUNT(*) AS n,
       |        list_reduce(
       |          list_prepend([0.0, 1.0],
       |            list([rr, CAST(r AS DOUBLE)] ORDER BY r)),
       |          (acc, x) -> [acc[1] + acc[2] * x[1] / x[2],
       |                       acc[2] * (1.0 - x[1])]) AS e
       |      FROM t2)
       |SELECT n, $depth AS depth, ROUND(e[1], 4) AS err FROM f""".stripMargin
  }

  private def rankingEvalSql(terms: Seq[String], depth: Int, th: Int): String = {
    val relExpr = terms.indices
      .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    def sr(v: String) = s"ROUND($v + SIGN($v) * 0.000000001, 4)"
    s"""WITH ${bm25Ctes(terms, 1.2, 0.75)},
       |rel AS (SELECT doc_id, CAST($relExpr AS BIGINT) AS rel FROM dls),
       |top AS (SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r,
       |          doc_id, bm25
       |        FROM bm ORDER BY bm25 DESC, doc_id LIMIT $depth),
       |t2 AS (SELECT t.r, rel.rel,
       |         CASE WHEN rel.rel >= $th THEN 1 ELSE 0 END AS isrel
       |       FROM top t JOIN rel USING (doc_id)),
       |t3 AS (SELECT r, rel, isrel, SUM(isrel) OVER (ORDER BY r) AS cumrel
       |       FROM t2),
       |dd AS (SELECT
       |    list_reduce(list((pow(2.0, rel) - 1.0)
       |      / (ln(CAST(r AS DOUBLE) + 1.0) / ln(2.0)) ORDER BY r),
       |      (a, b) -> a + b) AS dcg,
       |    MIN(CASE WHEN isrel = 1 THEN r END) AS first_rel,
       |    list_reduce(list(CASE WHEN isrel = 1
       |        THEN CAST(cumrel AS DOUBLE) / r ELSE 0.0 END ORDER BY r),
       |      (a, b) -> a + b) AS ap_num
       |  FROM t3),
       |lv AS (SELECT rel, COUNT(*) AS c FROM rel GROUP BY rel),
       |cg AS (SELECT rel, SUM(c) OVER (ORDER BY rel DESC) AS cum_ge FROM lv
       |       WHERE rel > 0),
       |pos AS (SELECT unnest(range(1, ${depth + 1})) AS p),
       |id0 AS (SELECT pos.p, COALESCE(MAX(cg.rel), 0) AS irel
       |        FROM pos LEFT JOIN cg ON cg.cum_ge >= pos.p GROUP BY pos.p),
       |ii AS (SELECT list_reduce(list((pow(2.0, irel) - 1.0)
       |          / (ln(CAST(p AS DOUBLE) + 1.0) / ln(2.0)) ORDER BY p),
       |          (a, b) -> a + b) AS idcg FROM id0),
       |rt AS (SELECT CAST(SUM(CASE WHEN rel >= $th THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_rel FROM rel)
       |SELECT rt.n_rel, ${sr("dd.dcg")} AS dcg, ${sr("ii.idcg")} AS idcg,
       |  ${sr("dd.dcg / ii.idcg")} AS ndcg,
       |  ROUND(COALESCE(1.0 / first_rel, 0.0), 4) AS mrr,
       |  ROUND(dd.ap_num / CAST(LEAST(rt.n_rel, $depth) AS DOUBLE), 4) AS ap
       |FROM dd, ii, rt""".stripMargin
  }

  /** DuckDB twin of [[graft.ext.Layout.zorderKey]]: the same bit
    * interleave as an OR of 2·bits shift/mask terms. */
  private def zorderSql(x: String, y: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " | ", ")")

  /** Generated k-means oracle: the same grid-rounded Lloyd's chain the
    * Spark side runs ([[graft.ext.Similarity.kmeans]]) as one CTE pipeline
    * — c0 (k lowest ids) → per-iteration assign (squared-L2 argmin, ties
    * to lowest cid) → grid-rounded component means → final assignment.
    * Distances use `list_dot_product` (sequential — bit-equal to the
    * native DotProduct) in the exact association (v·v − 2·v·c) + c·c.
    * The WITH-body (ending at the final assignment `a<iters>`) is shared
    * by ext_kmeans and ext_semdedup, which extends the chain. */
  /** WITH-body of the ExactSubstr span chain (stride-1 gram positions →
    * cross-doc duplicated grams → duplicated positions → island groups),
    * shared by ext_repeated_spans and ext_remove_spans. Mirrors
    * [[graft.ext.Dedup.repeatedSpans]]. */
  private def repeatedSpansCtes(l: Int): String =
    s"""pos AS (
       |  SELECT doc_id, CAST(t.p AS INT) AS p,
       |    substr(text, CAST(t.p AS INT), $l) AS gram
       |  FROM documents, unnest(range(1, length(text) - ${l - 2})) AS t(p)
       |  WHERE length(text) >= $l),
       |dup AS (SELECT gram FROM pos GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
       |dp AS (SELECT doc_id, p FROM pos JOIN dup USING (gram)),
       |lagged AS (SELECT doc_id, p,
       |  lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM dp),
       |grp AS (SELECT doc_id, p,
       |  SUM(CASE WHEN prev IS NULL OR p - prev > $l THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY p) AS g
       |  FROM lagged)""".stripMargin

  /** `kSql`: optional SQL expression overriding the literal k in the
    * initial-centroid cut (c0's `vec_id < k`) — ext_semdedup derives k
    * from COUNT(*) (the volume-derived Similarity.kmeansKFor twin);
    * every other kmeans-chain oracle keeps its literal. Only c0 ever
    * mentions k — the rest of the chain is data-driven GROUP BY cid. */
  private def kmeansCtes(k: Int, iters: Int, dim: Int,
      kSql: Option[String] = None): String = {
    def assign(i: Int) =
      s"""s$i AS (SELECT v.vec_id, c.cid,
         |  list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, c.ce)
         |    + list_dot_product(c.ce, c.ce) AS d
         |  FROM e v CROSS JOIN c$i c),
         |a$i AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
         |  FROM s$i) WHERE r = 1),
         |""".stripMargin
    def update(i: Int) =
      s"""u${i + 1} AS (SELECT a$i.cid AS cid, t.j AS j, e.e[CAST(t.j AS INT)] AS v
         |  FROM a$i, e, unnest(range(1, ${dim + 1})) AS t(j)
         |  WHERE a$i.vec_id = e.vec_id),
         |m${i + 1} AS (SELECT cid, j,
         |  floor(SUM(v) / COUNT(*) * 1048576.0 + 0.5) / 1048576.0 AS cc
         |  FROM u${i + 1} GROUP BY cid, j),
         |c${i + 1} AS (SELECT cid, list(cc ORDER BY j) AS ce FROM m${i + 1} GROUP BY cid),
         |""".stripMargin
    val chain = (0 until iters).map(i => assign(i) + update(i)).mkString
    val kCut = kSql.getOrElse(k.toString)
    s"""$embCte,
       |c0 AS (SELECT CAST(vec_id AS INT) AS cid, e AS ce FROM e WHERE vec_id < $kCut),
       |$chain${assign(iters).stripSuffix(",\n")}""".stripMargin
  }

  private def kmeansOracle(k: Int, iters: Int, dim: Int): String =
    s"""WITH ${kmeansCtes(k, iters, dim)}
       |SELECT vec_id, cid AS cluster FROM a$iters ORDER BY vec_id""".stripMargin

  /** Generated BM25 oracle mirroring [[graft.ext.TextAnalysis.bm25]]:
    * identical expression association everywhere, all float constants
    * interpolated from the SAME Scala doubles (Double.toString round-trips
    * to identical bits in DuckDB's literal parser — writing `2.2` by hand
    * could differ one ulp from Scala's `k1 + 1.0`), per-term contributions
    * summed in fixed left-to-right term order (Spark-side single-pass
    * shape: per-doc (dl, tf_i) columns + one-row corpus stats). */
  /** Dirichlet query-likelihood oracle mirroring
    * [[graft.ext.Retrieval.queryLikelihood]]: tf pivot + collection
    * totals, score = Σ ln(tf·cl + μ·ctf) − |q|·ln(cl·(dl+μ)) in the
    * same left-to-right term order. */
  private def qldSql(terms: Seq[String], mu: Long): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ts, t -> t = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n|  ")
    val ctfCols = terms.indices.map { i =>
      s"CAST(SUM(tf$i) AS BIGINT) AS ctf$i"
    }.mkString(",\n|  ")
    val score = terms.indices.map { i =>
      s"ln(CAST(tf$i * cl + $mu * ctf$i AS DOUBLE))"
    }.mkString("\n|  + ") +
      s"\n|  - ${terms.size}.0 * ln(CAST(cl * (dl + $mu) AS DOUBLE))"
    val any = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH $toksCte,
       |dls AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
       |  $tfCols
       |  FROM toks WHERE len(ts) > 0),
       |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS cl,
       |  $ctfCols
       |  FROM dls)
       |SELECT doc_id, ROUND($score, 4) AS qld
       |FROM dls, st WHERE $any ORDER BY doc_id""".stripMargin
  }

  private def bm25Oracle(terms: Seq[String], k1: Double, b: Double): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ts, t -> t = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n|  ")
    val dfCols = terms.indices.map { i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(",\n|  ")
    val score = terms.indices.map { i =>
      s"""CASE WHEN tf$i > 0 THEN
         |    ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${k1 + 1.0})
         |      / (tf$i + $k1 * (1.0 - $b + $b * dl / (CAST(sdl AS DOUBLE) / n)))
         |  ELSE 0.0 END""".stripMargin
    }.mkString("\n|  + ")
    val any = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH ${bm25Ctes(terms, k1, b)}
       |SELECT doc_id, bm25 FROM bm ORDER BY doc_id""".stripMargin
  }

  /** The [[bm25Oracle]] guts as a reusable CTE chain ending in
    * `bm(doc_id, bm25)` with the ROUND(·,4) score — shared by ext_bm25
    * and the RRF fusion oracle (which ranks on the verified rounded
    * score). */
  /** BM25 k1-sweep oracle: ONE dls/st tf table scored at k1 ∈
    * {0.9, 1.2, 1.5} (b = 0.75), each list ranked on the ROUNDED score
    * with doc-id tie-breaks — mirrors [[bm25SweepQ]]. */
  private def bm25SweepSql: String = {
    val terms = Bm25Terms
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ts, t -> t = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n|  ")
    val dfCols = terms.indices.map { i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(",\n|  ")
    def score(k1: Double, b: Double) = terms.indices.map { i =>
      s"""CASE WHEN tf$i > 0 THEN
         |    ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${k1 + 1.0})
         |      / (tf$i + $k1 * (1.0 - $b + $b * dl / (CAST(sdl AS DOUBLE) / n)))
         |  ELSE 0.0 END""".stripMargin
    }.mkString("\n|  + ")
    val any = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    val legs = Seq(9, 12, 15).map { k =>
      s"""bm$k AS (SELECT doc_id, ROUND(${score(k / 10.0, 0.75)}, 4) AS bm25
         |  FROM dls, st WHERE $any),
         |r$k AS (SELECT $k AS k1x10, doc_id, bm25,
         |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
         |  FROM bm$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $toksCte,
       |dls AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
       |  $tfCols
       |  FROM toks WHERE len(ts) > 0),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl,
       |  $dfCols
       |  FROM dls),
       |$legs,
       |u AS (SELECT * FROM r9 UNION ALL SELECT * FROM r12
       |      UNION ALL SELECT * FROM r15)
       |SELECT k1x10, rank, doc_id, bm25 FROM u
       |WHERE rank <= 10 ORDER BY k1x10, rank""".stripMargin
  }

  private def bm25Ctes(terms: Seq[String], k1: Double, b: Double): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ts, t -> t = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n|  ")
    val dfCols = terms.indices.map { i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(",\n|  ")
    val score = terms.indices.map { i =>
      s"""CASE WHEN tf$i > 0 THEN
         |    ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${k1 + 1.0})
         |      / (tf$i + $k1 * (1.0 - $b + $b * dl / (CAST(sdl AS DOUBLE) / n)))
         |  ELSE 0.0 END""".stripMargin
    }.mkString("\n|  + ")
    val any = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""$toksCte,
       |dls AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
       |  $tfCols
       |  FROM toks WHERE len(ts) > 0),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl,
       |  $dfCols
       |  FROM dls),
       |bm AS (SELECT doc_id, ROUND($score, 4) AS bm25
       |  FROM dls, st WHERE $any)""".stripMargin
  }

  /** Generated PQ-ADC oracle mirroring [[graft.ext.Similarity.pqTopK]]:
    * per subspace, the exact kmeansOracle chain on the list slice
    * (same init, same grid-rounded means, same (d, cid) tie order),
    * then approx ip = fixed-left-to-right sum of per-subspace
    * query·centroid dot products via code joins. */
  /** One Lloyd assign/update CTE chain over table `src` with CTE-name
    * prefix `pre`: init from vec_id < k, `iters` rounds of grid-rounded
    * means, final assignment in `${pre}a$iters(vec_id, cid)`, final
    * centroids in `${pre}c$iters(cid, ce)` (c0 when iters = 0). */
  private def lloydChain(pre: String, src: String, k: Int, iters: Int, d0: Int): String = {
    def assign(i: Int) =
      s"${pre}s$i AS (SELECT v.vec_id, c.cid,\n" +
      s"  list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, c.ce)\n" +
      s"    + list_dot_product(c.ce, c.ce) AS d\n" +
      s"  FROM $src v CROSS JOIN ${pre}c$i c),\n" +
      s"${pre}a$i AS (SELECT vec_id, cid FROM (\n" +
      s"  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r\n" +
      s"  FROM ${pre}s$i) WHERE r = 1),\n"
    def update(i: Int) =
      s"${pre}u${i + 1} AS (SELECT a.cid AS cid, t.j AS j, e.e[CAST(t.j AS INT)] AS v\n" +
      s"  FROM ${pre}a$i a, $src e, unnest(range(1, ${d0 + 1})) AS t(j)\n" +
      s"  WHERE a.vec_id = e.vec_id),\n" +
      s"${pre}m${i + 1} AS (SELECT cid, j, floor(SUM(v) / COUNT(*) * 1048576.0 + 0.5) / 1048576.0 AS cc\n" +
      s"  FROM ${pre}u${i + 1} GROUP BY cid, j),\n" +
      s"${pre}c${i + 1} AS (SELECT cid, list(cc ORDER BY j) AS ce FROM ${pre}m${i + 1} GROUP BY cid),\n"
    val chain = (0 until iters).map(i => assign(i) + update(i)).mkString
    s"${pre}c0 AS (SELECT CAST(vec_id AS INT) AS cid, e AS ce FROM $src WHERE vec_id < $k),\n" +
    chain + assign(iters)
  }

  /** One PQ subspace: slice CTE + Lloyd chain + query slice + ADC table. */
  private def pqSub(s: Int, d0: Int, k: Int, iters: Int, queryId: Long): String = {
    val lo = s * d0 + 1; val hi = (s + 1) * d0
    s"e$s AS (SELECT vec_id, e[$lo:$hi] AS e FROM e),\n" +
    lloydChain(s"p$s", s"e$s", k, iters, d0) +
    s"q$s AS (SELECT e FROM e$s WHERE vec_id = $queryId),\n" +
    s"t$s AS (SELECT c.cid, list_dot_product(q.e, c.ce) AS ip FROM p${s}c$iters c CROSS JOIN q$s q),\n"
  }

  private def pqOracle(dim: Int, m: Int, k: Int, iters: Int, queryId: Long,
      topK: Int): String = {
    val d0 = dim / m
    val subs = (0 until m).map(s => pqSub(s, d0, k, iters, queryId)).mkString
    val joins = (0 until m).map(s =>
      s"  JOIN p${s}a$iters a$s ON a$s.vec_id = b.vec_id JOIN t$s ON t$s.cid = a$s.cid").mkString("\n")
    val ipSum = (0 until m).map(s => s"t$s.ip").mkString(" + ")
    s"WITH $embCte,\n" + subs +
    s"sel AS (SELECT b.vec_id, $ipSum AS ip\n" +
    s"  FROM e b\n" + joins + s"\n  WHERE b.vec_id <> $queryId),\n" +
    s"top AS (SELECT * FROM sel ORDER BY ip DESC, vec_id LIMIT $topK)\n" +
    s"SELECT vec_id, ROUND(ip, 4) AS pq_ip FROM top ORDER BY pq_ip DESC, vec_id"
  }

  /** Generated IVF-PQ oracle mirroring [[graft.ext.Similarity.ivfPqTopK]]:
    * a full-dimension Lloyd chain for the coarse quantizer, the query's
    * nprobe nearest coarse lists, and the [[pqSub]] subspace chains —
    * candidates are the probed lists' members, scored by the same ADC
    * sum as ext_pq_topk. */
  private def ivfpqOracle(dim: Int, m: Int, k: Int, kc: Int, nprobe: Int,
      iters: Int, queryId: Long, topK: Int): String = {
    val d0 = dim / m
    val subs = (0 until m).map(s => pqSub(s, d0, k, iters, queryId)).mkString
    val joins = (0 until m).map(s =>
      s"  JOIN p${s}a$iters a$s ON a$s.vec_id = b.vec_id JOIN t$s ON t$s.cid = a$s.cid").mkString("\n")
    val ipSum = (0 until m).map(s => s"t$s.ip").mkString(" + ")
    s"WITH $embCte,\n" +
    lloydChain("g", "e", kc, iters, dim) +
    s"qf AS (SELECT e FROM e WHERE vec_id = $queryId),\n" +
    s"gq AS (SELECT c.cid,\n" +
    s"  list_dot_product(q.e, q.e) - 2.0 * list_dot_product(q.e, c.ce)\n" +
    s"    + list_dot_product(c.ce, c.ce) AS d\n" +
    s"  FROM gc$iters c CROSS JOIN qf q),\n" +
    s"probe AS (SELECT cid FROM gq ORDER BY d, cid LIMIT $nprobe),\n" +
    subs +
    s"sel AS (SELECT b.vec_id, $ipSum AS ip\n" +
    s"  FROM e b\n" +
    s"  JOIN ga$iters g ON g.vec_id = b.vec_id JOIN probe ON probe.cid = g.cid\n" +
    joins + s"\n  WHERE b.vec_id <> $queryId),\n" +
    s"top AS (SELECT * FROM sel ORDER BY ip DESC, vec_id LIMIT $topK)\n" +
    s"SELECT vec_id, ROUND(ip, 4) AS ivfpq_ip FROM top ORDER BY ivfpq_ip DESC, vec_id"
  }

  /** Generated BPE oracle chain mirroring [[graft.ext.Bpe.train]]: the
    * merge loop unrolled as CTEs — per step, weighted adjacent-symbol
    * pair counts over the current working set, a 1-row argmax
    * (count desc, pair binary order), and a single-pass literal
    * `replace` (both engines scan left-to-right non-overlapping, which
    * IS BPE's greedy merge application). Returns (mergesSql, piecesSql).
    * The Spark side throws if pairs exhaust before `numMerges`, because
    * this chain unrolls exactly `numMerges` steps. */
  private def bpeOracles(numMerges: Int): (String, String) = {
    val head =
      s"WITH $toksCte,\n" +
      "wf AS (SELECT tok, COUNT(*) AS c FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY tok),\n" +
      "v0 AS (SELECT ' ' || regexp_replace(tok, '(.)', '\\1 ', 'g') AS w, c FROM wf),\n"
    def step(i: Int) =
      s"px$i AS (SELECT c, string_split(trim(w), ' ') AS ts FROM v$i),\n" +
      s"p$i AS (SELECT ts[t.i] AS a, ts[t.i + 1] AS b, CAST(SUM(c) AS BIGINT) AS n\n" +
      s"  FROM px$i, unnest(range(1, len(ts))) AS t(i) GROUP BY 1, 2),\n" +
      s"m${i + 1} AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),\n" +
      s"v${i + 1} AS (SELECT replace(w, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS w, c\n" +
      s"  FROM v$i CROSS JOIN m${i + 1}),\n"
    val chain = (0 until numMerges).map(step).mkString
    val union = (1 to numMerges)
      .map(i => s"SELECT CAST($i AS INT) AS step, a, b, n FROM m$i")
      .mkString("\nUNION ALL\n")
    val merges = head + chain.stripSuffix(",\n") + s"\n$union\nORDER BY step"
    val pieces = head + chain +
      s"pc AS (SELECT c, unnest(string_split(trim(w), ' ')) AS piece FROM v$numMerges)\n" +
      "SELECT piece, CAST(SUM(c) AS BIGINT) AS n FROM pc GROUP BY piece ORDER BY piece"
    (merges, pieces)
  }

  // lazy: declared after `oracles`, which references it during object init
  private lazy val bpeSql: (String, String) = bpeOracles(10)
}
