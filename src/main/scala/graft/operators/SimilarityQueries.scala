package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Driver-facing similarity-search queries over `embeddings.parquet`.
  * Brute-force AND the IVF tier have exact DuckDB oracles (both are
  * deterministic down to tie-breaks); the Spark-ML LSH tier is rows-only.
  */
object SimilarityQueries {
  import DedupQueries.{dotSql, normSql}

  /** Demo parameters: 8 query vectors, top-10, 16 IVF lists probe 4,
    * 32 rescore candidates for the quantized tier. The bucketed serving
    * query uses 2 query vectors — the point-lookup regime where bucket
    * pruning pays (8 queries probe 15/16 lists and nothing prunes). */
  val NQueries = 8
  val NQueriesServe = 2
  val K = 10
  val NCentroids = 16
  val NProbe = 4
  val NCandidates = 32
  /** PQ shape: 8 subspaces over the 64-dim embeddings, 16 codewords. */
  val PqM = 8
  val PqCodewords = 16
  /** Trained-tier shape. The fixture embeddings are near-isotropic (no
    * cluster structure), the regime where quantization recall is hardest:
    * lifting recall@10 to >=0.9 takes finer codes (16 subspaces x 128
    * codewords — still a 16-byte code, 32x narrower than the raw doubles),
    * a deeper rescore pool, and for the IVF composition a larger probe
    * fraction (12/16 lists here; on a clustered corpus a few percent of
    * lists gives the same recall — the knobs are the recall/cost dial,
    * pinned at this setting by SimilaritySpec).
    */
  val PqMTrained = 16
  val PqCodewordsTrained = 128
  /** Lloyd tier shape: 3 iterations on a <=512-vector consistent-hash
    * sample — enough for the centers to move off the stride init (spec-
    * pinned) while the oracle's unrolled iteration CTEs stay bounded. */
  val LloydIters = 3
  val LloydMaxSample = 512
  val NCandidatesTrained = 48
  val NProbeTrained = 12
  val NCandidatesIvfPqTrained = 64
  /** k-NN graph out-degree — small so the graph output stays 5·|V|. */
  val KGraph = 5
  /** Mutual-kNN clustering tau: on the near-isotropic fixture, 0.35 is
    * the regime with real structure (dozens of components, largest ≈ 40
    * nodes at sf0.001) — lower drowns in one giant component, higher
    * strands everything. */
  val KnnClusterTau = 0.35
  /** Hybrid-retrieval (RRF) shape: a lexical arm (the shared BM25 scorer
    * over [[TrainingDataQueries.Bm25Terms]]) and a vector arm (exact
    * cosine against query vector [[HybridQueryVec]]), each top-
    * [[HybridK]], fused by reciprocal-rank fusion with the standard
    * k0=60 constant (Cormack/Clarke/Buettcher 2009). */
  val HybridK = 20
  val RrfK0 = 60
  val HybridQueryVec = 0L
  /** MMR diversified rerank: pool the top-[[MmrN]] by relevance, greedily
    * select [[MmrK]] with the standard λ=0.7 relevance/diversity
    * trade-off (Carbonell/Goldstein 1998). */
  val MmrN = 20
  val MmrK = 10
  val MmrLambda = 0.7
  /** Adaptive probing: radius 0.15 below the best centroid cosine, capped
    * at 8 lists — wide enough that boundary queries out-probe the fixed
    * NProbe=4 tier and centered queries under-probe it. */
  val ProbeDelta = 0.15
  val NProbeMax = 8
  /** Context-pack token budget: cuts the retrieved top-10 mid-list at
    * every test SF (6/6/9 docs survive at sf0.001/0.01/0.1). */
  val ContextBudget = 400L

  /** Range-search radius: cos >= 0.3 yields a handful of matches per query
    * on the near-isotropic fixture — small enough that the gate sees the
    * match-proportional output, non-empty for every query. */
  val TauRange = 0.3

  /** Late-interaction (ColBERT-style maxsim) shape: the query is doc
    * [[MaxsimQueryDoc]]'s chunk set, docs rank by Σ over query chunks of
    * the max cosine to any doc chunk, top-[[MaxsimK]] emitted. */
  val MaxsimQueryDoc = 0L
  val MaxsimK = 10
  val MaxsimDim = 64
  /** Chunk-grain IVF probe width for the maxsim scale arm. */
  val MaxsimNProbe = 4
  /** Query-batch size for the multi-query served retrieval. */
  val MultiNQueries = 4

  /** Multi-vector LATE-INTERACTION retrieval (the ColBERT maxsim law,
    * Khattab/Zaharia 2020): both sides split into overlap chunks (the
    * shared [[TrainingDataQueries.chunkOverlapFrame]] unit), each chunk
    * embedded by the integer-exact in-scan hashEmbed kernel; a doc's
    * score is Σ over QUERY chunks of its best doc-chunk cosine — a
    * multi-topic doc scores on EVERY query aspect it covers, where a
    * single whole-doc vector dilutes minority topics away (the planted
    * fixture in MaxsimSpec). Hash-exactness: per-(doc, query-chunk) MAX
    * of exact-fold cosines is order-free; the cross-chunk SUM is made
    * order-free by fixed-point flooring each max at 2²⁰ before the
    * integer sum (the engine's standing reproducible-sum trick). Scale
    * shape: the query side is ONE doc's chunks (broadcast literal-sized),
    * scoring is one scan over corpus chunks + two partial-aggregable
    * doc_id aggs + the global TopKAgg — no corpus self-join, no window;
    * at index scale the scan arm would route through the chunk-grain IVF
    * tier exactly like the single-vector family. */
  /** Unit-of-retrieval chunk vectors: the shared chunker + the in-scan
    * embedder, zero-norm chunks dropped — ONE front-end behind the exact
    * ([[maxsimTopK]]) and IVF ([[maxsimTopKIvf]]) late-interaction arms. */
  private[graft] def chunkVecs(docs: DataFrame): DataFrame = {
    import graft.functions.NativeExpressions
    TrainingDataQueries.chunkOverlapFrame(docs)
      .select(col("doc_id"), col("chunk_idx"),
        NativeExpressions.hashEmbed(col("chunk_text"), MaxsimDim).as("v"))
      .withColumn("nrm", Dedup.l2norm(col("v")))
      .filter(col("nrm") > 0.0)
  }

  /** The maxsim scoring tail over a (doc-chunk × query-chunk) candidate
    * relation `(doc_id, qi, cos)`: order-free per-(doc, query-chunk) max,
    * fixed-point floor at 2²⁰, integer sum, global top-k — shared by both
    * arms so the scoring law cannot fork. */
  private def maxsimTail(cand: DataFrame, k: Int): DataFrame =
    cand.groupBy(col("doc_id"), col("qi"))
      .agg(max(col("cos")).as("m"))
      .groupBy(col("doc_id"))
      .agg(sum(floor(col("m") * lit(1048576.0)).cast("long")).as("maxsim_fp"))
      .agg(TopKAgg.column(k, col("maxsim_fp").cast("double"), col("doc_id")).as("tk"))
      .select(posexplode(col("tk")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("doc_id"), col("col._1").cast("long").as("maxsim_fp"))

  private[operators] def maxsimTopK(docs: DataFrame, k: Int): DataFrame = {
    val ch = chunkVecs(docs)
    val q = ch.filter(col("doc_id") === MaxsimQueryDoc)
      .select(col("chunk_idx").as("qi"), col("v").as("qv"), col("nrm").as("qnrm"))
    maxsimTail(
      ch.filter(col("doc_id") =!= MaxsimQueryDoc)
        .crossJoin(broadcast(q))
        .withColumn("cos", Dedup.cosine(col("qv"), col("v"), col("qnrm"), col("nrm"))),
      k)
  }

  /** The 100 TB arm of late interaction: chunk-grain IVF. Chunks are
    * assigned in-scan to a deterministic chunk-grain quantizer (first
    * chunk of the first [[NCentroids]] docs — the oracle-able stand-in,
    * same convention as the vector family's first-N tiers); each QUERY
    * chunk probes its top-[[MaxsimNProbe]] lists and scores only the doc
    * chunks living there, so the corpus side is one pruned
    * scan-and-shuffle-free pass per query instead of an all-chunks cross
    * join. Approximation law (twin-replayable): a query chunk with no
    * candidate in its probed lists contributes nothing to that doc's sum
    * (exact maxsim would contribute that doc's global best — possibly
    * negative — for the chunk). MaxsimSpec pins top-1 agreement with the
    * exact arm on the planted fixture. */
  private[operators] def maxsimTopKIvf(docs: DataFrame, k: Int): DataFrame = {
    import graft.functions.NativeExpressions
    val ch = chunkVecs(docs).persist() // feeds centroids, assignment, query side
    val centSeq = Similarity.collectCentroids(
      ch.filter(col("chunk_idx") === 0L && col("doc_id") < NCentroids)
        .select(col("doc_id").as("cen_id"), col("v").as("cv"), col("nrm").as("cnrm")))
    val assigned = ch.withColumn("cen_id",
      NativeExpressions.argMaxCosine(col("v"), col("nrm"), centSeq))
    val q = ch.filter(col("doc_id") === MaxsimQueryDoc)
      .select(col("chunk_idx").as("qi"), col("v").as("qv"), col("nrm").as("qnrm"))
      .withColumn("cen_id", explode(
        NativeExpressions.topNCosineIds(col("qv"), col("qnrm"), centSeq, MaxsimNProbe)))
    maxsimTail(
      assigned.filter(col("doc_id") =!= MaxsimQueryDoc)
        .join(broadcast(q), "cen_id")
        .withColumn("cos", Dedup.cosine(col("qv"), col("v"), col("qnrm"), col("nrm"))),
      k)
  }

  /** PERSISTED late-interaction serving (`src_maxsim_bucketed`): the
    * chunk-grain table written bucketed by cen_id ONCE (the `writeIvfPq`
    * lifecycle, chunk edition), probed per query batch — the serving
    * story [[maxsimTopKIvf]] lacked (it rebuilt its index in-query; a
    * ColBERT-style serving fleet amortizes chunking/embedding/assignment
    * across every query batch). The probe read is the
    * [[probeListsPruned]] shape: probe lists enter as LITERALS (bucket
    * pruning needs a constant predicate), the query doc's chunk rows as a
    * broadcast local relation, and everything downstream of the pruned
    * scan is the SHARED [[maxsimTail]] — so the persisted path cannot
    * fork from the in-query arm it must equal row-for-row (the driver
    * oracle is sim_maxsim_ivf's verbatim; MaxsimServedSpec pins the
    * bucket pruning). */
  private[operators] def maxsimServed(s: SparkSession, dir: String,
      docs: DataFrame, k: Int): DataFrame = {
    val (tbl, centSeq) = maxsimServing(s, dir, docs)
    // query side: only the query doc's chunks — chunking is per-doc, so
    // chunking the filtered frame equals filtering the chunked frame
    maxsimProbeServed(s, tbl,
      chunkVecs(docs.filter(col("doc_id") === MaxsimQueryDoc)), centSeq, k)
  }

  private type MaxsimArtifact = (String, Seq[(Long, Seq[Double], Double)])
  private[operators] val maxsimCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.CompletableFuture[MaxsimArtifact]]]())

  /** The memoized (tbl, centSeq) maxsim chunk-serving artifact for `dir`'s
    * corpus — the [[ivfPqServing]] lifecycle for the late-interaction
    * family: `src_maxsim_bucketed`, `sim_maxsim_fidelity`, and
    * `src_maxsim_multi` all serve the SAME full-corpus chunk table (built
    * once in production; queries only read), and the shared scratch-table
    * name previously assumed strictly sequential execution (ADVICE r15). */
  private[operators] def maxsimServing(s: SparkSession, dir: String,
      docs: => DataFrame): MaxsimArtifact = {
    def build(): MaxsimArtifact = {
      // scoped persist: the chunk frame feeds the centroid collect AND the
      // bucketed write, both materialized inside this call — released here,
      // not left for the between-queries sweep
      val ch = chunkVecs(docs).persist()
      try {
        val centSeq = maxsimCentroids(ch)
        val tbl = scratchTable(s, "graft_maxsim_lists" + dirTag(dir))
        writeMaxsimChunks(ch, tbl, centSeq)
        (tbl, centSeq)
      } finally graft.CheckpointUtil.releasePersist(ch)
    }
    // memoize a FUTURE, not the artifact (ADVICE r16): computeIfAbsent
    // holds the map bin for the mapping function's whole duration, and
    // build() runs Spark jobs — a concurrent caller for another dir hashing
    // to the same bin would block behind the build. Registering the future
    // is O(1) under the lock; the build runs outside it, and concurrent
    // callers for the SAME dir await one build. The stale-table recheck is
    // a compute() replace, so invalidation can't race a fresh rebuild: the
    // thread that observes the dropped table swaps the entry atomically
    // (only if unchanged) and everyone converges on one rebuild future.
    type FutureArtifact = java.util.concurrent.CompletableFuture[MaxsimArtifact]
    val memo = maxsimCache.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, FutureArtifact]())
    def run(f: FutureArtifact): MaxsimArtifact =
      try { val a = build(); f.complete(a); a }
      catch {
        // conditional evict: once `f` is done, a concurrent stale-table
        // recheck may already have replaced it with its own rebuild future,
        // which an unconditional remove would evict
        case e: Throwable => f.completeExceptionally(e); memo.remove(dir, f); throw e
      }
    val mine = new FutureArtifact()
    val existing = memo.putIfAbsent(dir, mine)
    val got = if (existing == null) run(mine) else existing.join()
    if (s.catalog.tableExists(got._1)) got
    else {
      val fresh = new FutureArtifact()
      val winner = memo.compute(dir,
        (_, cur) => if (cur == null || cur.isDone) fresh else cur)
      if (winner eq fresh) run(fresh) else winner.join()
    }
  }

  /** The chunk-grain coarse quantizer: first chunk of the first
    * [[NCentroids]] docs (the oracle-able stand-in — same convention as
    * the in-query arm), collected once. */
  private[graft] def maxsimCentroids(ch: DataFrame): Seq[(Long, Seq[Double], Double)] =
    Similarity.collectCentroids(
      ch.filter(col("chunk_idx") === 0L && col("doc_id") < NCentroids)
        .select(col("doc_id").as("cen_id"), col("v").as("cv"), col("nrm").as("cnrm")))

  /** One assign+write pass of chunk rows into the cen_id-bucketed layout
    * under FIXED centroids — shared by the base build, the append-ingest
    * arm, and the pre-compaction writes (the quantizer is a property of
    * the index, never retrained per ingest). */
  private[graft] def writeMaxsimChunks(part: DataFrame, tbl: String,
      centSeq: Seq[(Long, Seq[Double], Double)], mode: String = "overwrite"): Unit = {
    import graft.functions.NativeExpressions
    graft.sources.Layouts.writeBucketed(
      part.withColumn("cen_id",
        NativeExpressions.argMaxCosine(col("v"), col("nrm"), centSeq)),
      tbl, "cen_id", nBuckets = 16,
      sortCols = Seq("cen_id", "doc_id", "chunk_idx"), mode = mode)
  }

  /** The served maxsim probe: ONE query doc's chunks x their
    * top-[[MaxsimNProbe]] lists (a bounded serve batch, collected once
    * like every bucketed-probe caller), pruned scan + broadcast probes +
    * the shared [[maxsimTail]]. */
  private def maxsimProbeServed(s: SparkSession, tbl: String, ch: DataFrame,
      centSeq: Seq[(Long, Seq[Double], Double)], k: Int): DataFrame = {
    import graft.functions.NativeExpressions
    import s.implicits._
    val probeRows = ch.filter(col("doc_id") === MaxsimQueryDoc)
      .select(col("chunk_idx").as("qi"), col("v").as("qv"), col("nrm").as("qnrm"))
      .withColumn("cen_id", explode(
        NativeExpressions.topNCosineIds(col("qv"), col("qnrm"), centSeq, MaxsimNProbe)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val probes = probeRows.toDF("qi", "qv", "qnrm", "cen_id")
    val probeIds = probeRows.map(_._4).distinct.sorted
    maxsimTail(
      s.table(tbl)
        .filter(col("cen_id").isin(probeIds.map(Long.box): _*))
        .filter(col("doc_id") =!= MaxsimQueryDoc)
        .join(broadcast(probes), "cen_id")
        .withColumn("cos", Dedup.cosine(col("qv"), col("v"), col("qnrm"), col("nrm"))),
      k)
  }

  /** Chunk-doc id boundary for the maxsim ingest arms: base = docs below,
    * increment above — covers the quantizer window (doc_id <
    * [[NCentroids]]) and the query doc at every SF, which is exactly why
    * the full-rebuild oracle applies verbatim to the append. */
  val MaxsimSplit = 400L

  /** Query-doc chunk rows `(qdoc, qi, qv, qnrm)` — the query side of the
    * multi-query maxsim serve, shared by the driver query and the
    * streaming arm ([[graft.streaming.StreamingDedup.maxsimServeStream]])
    * so a stream batch and the batch query chunk/embed identically. */
  private[graft] def maxsimQueryChunks(docs: DataFrame): DataFrame =
    chunkVecs(docs).select(col("doc_id").as("qdoc"), col("chunk_idx").as("qi"),
      col("v").as("qv"), col("nrm").as("qnrm"))

  /** MULTI-QUERY late-interaction serving: a BATCH of query docs against
    * the persisted chunk table — the true serving regime (one probe pass
    * per batch, not per query; the `pipeline_retrieve_multi` shape for
    * the maxsim family). Per batch: the query docs' chunks x their
    * top-[[MaxsimNProbe]] lists are ONE bounded driver roundtrip (the
    * serving-regime collect, like every bucketed-probe caller); the
    * pruned scan joins the broadcast probe set once; scoring is the
    * maxsim law per (query doc, candidate, query chunk) — order-free max,
    * fixed-point floor, integer sum — and the per-query ranking is a
    * [[TopKAgg]] keyed on qdoc, so a thousand concurrent queries rank in
    * parallel with O(k) state each and no window anywhere. */
  /** Serve-batch probe-collect bound (ADVICE r15): every batch caller is
    * constant-bounded (MultiNQueries, a stream micro-batch), but the
    * collect below would silently pull a corpus-sized frame if a future
    * caller handed it one — the exact mistake `joinPqTopK` exists to
    * avoid. 1<<16 probe rows ≈ 16k query chunks/batch: far above any
    * serve batch, far below corpus scale. */
  val MaxsimProbeRowsMax: Int = 1 << 16

  private[graft] def maxsimProbeMulti(s: SparkSession, tbl: String,
      qchunks: DataFrame, centSeq: Seq[(Long, Seq[Double], Double)],
      k: Int): DataFrame = {
    import graft.functions.NativeExpressions
    import s.implicits._
    val probeRows = qchunks
      .withColumn("cen_id", explode(
        NativeExpressions.topNCosineIds(col("qv"), col("qnrm"), centSeq, MaxsimNProbe)))
      .limit(MaxsimProbeRowsMax + 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2),
        r.getDouble(3), r.getLong(4)))
      .toSeq
    require(probeRows.length <= MaxsimProbeRowsMax,
      s"maxsimProbeMulti: serve batch exceeds $MaxsimProbeRowsMax probe rows " +
        "— this is the driver-collect serving path; route corpus-sized " +
        "query relations through the distributed join arm (joinPqTopK's " +
        "shape), not a driver probe collect")
    val probes = probeRows.toDF("qdoc", "qi", "qv", "qnrm", "cen_id")
    val probeIds = probeRows.map(_._5).distinct.sorted
    val cand = s.table(tbl)
      .filter(col("cen_id").isin(probeIds.map(Long.box): _*))
      .join(broadcast(probes), "cen_id")
      .filter(col("doc_id") =!= col("qdoc"))
      .withColumn("cos", Dedup.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
    cand.groupBy(col("qdoc"), col("doc_id"), col("qi"))
      .agg(max(col("cos")).as("m"))
      .groupBy(col("qdoc"), col("doc_id"))
      .agg(sum(floor(col("m") * lit(1048576.0)).cast("long")).as("maxsim_fp"))
      .groupBy(col("qdoc"))
      .agg(TopKAgg.column(k, col("maxsim_fp").cast("double"), col("doc_id")).as("tk"))
      .select(col("qdoc"), posexplode(col("tk")))
      .select(col("qdoc"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("doc_id"), col("col._1").cast("long").as("maxsim_fp"))
  }

  /** RRF fusion law — ONE definition behind the in-query
    * ([[hybridRrfFused]]) and served ([[hybridRrfServed]]) fusion cores:
    * full-outer join of the two arm rankings, score = Σ 1/(k0+rank) over
    * present arms, absent arm reads rank 0 / contributes 0. */
  private def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame =
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        (when(col("lex_rank").isNotNull,
            lit(1.0) / (lit(RrfK0) + col("lex_rank")).cast("double"))
          .otherwise(lit(0.0))
          + when(col("vec_rank").isNotNull,
              lit(1.0) / (lit(RrfK0) + col("vec_rank")).cast("double"))
            .otherwise(lit(0.0))).as("rrf"))

  /** Lexical-arm top-[[HybridK]] over a `(doc_id, score)` relation via the
    * bounded aggregate — shared by the in-query arm (scores computed per
    * run) and the served arm (scores read from the persisted table). */
  private def lexTopK(scored: DataFrame): DataFrame =
    scored.agg(TopKAgg.column(HybridK, col("score"), col("doc_id")).as("tk"))
      .select(posexplode(col("tk")))
      .select(col("col._2").as("doc_id"),
        (col("pos") + 1).cast("long").as("lex_rank"))

  /** Hybrid-retrieval fusion core: `(doc_id, lex_rank, vec_rank, rrf)`
    * for both arms' top-[[HybridK]], un-ordered — ONE builder behind
    * `sim_hybrid_rrf` (which orders and emits it) and the
    * `pipeline_e2e_retrieve` composition (which feeds it to the MMR
    * stage), so the fusion law cannot fork. */
  private def hybridRrfFused(s: SparkSession, dir: String): DataFrame = {
    val corpus = Similarity.prepare(Tables.embeddings(s, dir))
    val vec = Similarity.bruteForceTopK(corpus,
        corpus.filter(col("vec_id") === HybridQueryVec), HybridK)
      .select(col("vec_id").as("doc_id"), col("rank").as("vec_rank"))
    val lex = lexTopK(TrainingDataQueries.bm25Scored(s, dir))
    rrfFuse(lex, vec)
  }

  /** SERVED hybrid fusion core: both arms read PERSISTED artifacts — the
    * production serving regime (the index is built once; queries only
    * read). The vector arm probes the cen_id-bucketed IVF-PQ table (the
    * `src_ivfpq_bucketed` layout) through [[probePqLists]] — coarse ADC
    * bucket- and column-pruned, exact rescore of the survivors — instead
    * of brute cosine over the raw corpus; the lexical arm reads the BM25
    * scores materialized once into a scratch table instead of rescoring
    * the corpus per query. Fusion/greedy/pack downstream are the SAME
    * builders as the in-query chain ([[rrfFuse]], [[retrieveRankedFrom]]).
    * `nProbe`/`candidates` parameterized for the exhaustive-probe spec
    * (probe all lists + rescore everything == the brute arm row-for-row,
    * ServedRetrieveSpec). */
  private[operators] def hybridRrfServed(s: SparkSession, dir: String,
      nProbe: Int = NProbe, candidates: Int = NCandidates): DataFrame = {
    import graft.functions.NativeExpressions
    val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
    val (tbl, centSeq, codebook) = ivfPqServing(s, dir, corpus)
    val lex = lexTopK(s.table(bm25Served(s, dir)))
    val probeRows = corpus.filter(col("vec_id") === HybridQueryVec)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .withColumn("cen_id", explode(
        NativeExpressions.topNCosineIds(col("qv"), col("qnrm"), centSeq, nProbe)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val vec = probePqLists(s, tbl, codebook, PqM, probeRows, candidates, HybridK)
      .select(col("vec_id").as("doc_id"), col("rank").as("vec_rank"))
    rrfFuse(lex, vec)
  }

  /** E2E retrieval core: hybrid fusion → unit-vector pool → single-group
    * MMR → metadata; `(rank, doc_id, rrf, mmr, source, lang, n_tokens)`,
    * un-ordered — ONE builder behind `pipeline_e2e_retrieve` (orders and
    * emits the ranking columns) and `pipeline_context_pack` (packs it
    * into a token budget). n_tokens rides the ONE documents join — the
    * pack stage must not pay a second corpus-side join for a count the
    * metadata join already had the text in hand for. */
  private def retrieveRanked(s: SparkSession, dir: String): DataFrame =
    retrieveRankedFrom(s, dir, hybridRrfFused(s, dir))

  /** The served-chain ranking: [[retrieveRankedFrom]] over the persisted-
    * artifact fusion — behind `pipeline_e2e_retrieve_served` and the
    * context-pack stage (which packs the PRODUCTION ranking, not the
    * in-query rebuild). */
  private[operators] def retrieveServedRanked(s: SparkSession, dir: String,
      nProbe: Int = NProbe, candidates: Int = NCandidates): DataFrame =
    retrieveRankedFrom(s, dir, hybridRrfServed(s, dir, nProbe, candidates))

  private def retrieveRankedFrom(s: SparkSession, dir: String,
      fused: DataFrame): DataFrame = {
    val emb = Similarity.prepare(Tables.embeddings(s, dir))
    val pool = fused
      .join(emb.select(col("vec_id").as("doc_id"),
        graft.functions.NativeExpressions.divArray(col("v"), col("nrm")).as("u")), Seq("doc_id"))
    pool.groupBy(lit(1L).as("g"))
      .agg(MmrAgg.column(2 * HybridK, MmrK, MmrLambda,
        col("rrf"), col("doc_id"), col("u")).as("sel"))
      .select(posexplode(col("sel")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col._1").as("doc_id"), col("col._2").as("rrf"),
        col("col._3").as("mmr"))
      .join(Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("n_tokens")), Seq("doc_id"))
      .select(col("rank"), col("doc_id"), col("rrf"), col("mmr"),
        col("source"), col("lang"), col("n_tokens"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // persist: the prepared corpus (cast + interpreted norm per row) feeds
    // multiple branches (corpus/query sides; centroids/assign/probe)
    "sim_topk_brute" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < NQueries), K)
        .orderBy("query_id", "rank")
    }),
    "sim_topk_ivf" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.ivfTopK(corpus, col("vec_id") < NQueries, NCentroids, NProbe, K)
        .orderBy("query_id", "rank")
    }),
    // ADAPTIVE-RADIUS probing: probe every list within ProbeDelta of the
    // best centroid (capped NProbeMax) instead of a fixed count — probe
    // cost follows per-query quantizer ambiguity (see
    // [[Similarity.ivfTopKAdaptive]]). Same serving plan shape as
    // sim_topk_ivf; the probe rule is one in-scan kernel swap. Queries
    // are NON-centroid vectors (the other sim_topk tiers' id<NQueries set
    // IS the first centroids, whose best-list cosine is 1.0 — the radius
    // rule would degenerate to 1 probe on them; measured spread on these
    // queries is 2-7 lists at sf0.001).
    "sim_topk_ivf_adaptive" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.ivfTopKAdaptive(corpus,
          col("vec_id") >= NCentroids && col("vec_id") < NCentroids + NQueries,
          NCentroids, NProbeMax, ProbeDelta, K)
        .orderBy("query_id", "rank")
    }),
    // RANGE (radius) search: all matches with cosine >= TauRange, not a
    // fixed top-k — the query shape of "find every near-duplicate above
    // threshold". Same centroids/assign/probe machinery as sim_topk_ivf;
    // the tau gate replaces the per-query selection state entirely.
    "sim_range_search" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.ivfRangeSearch(corpus, col("vec_id") < NQueries,
          NCentroids, NProbe, TauRange)
        .orderBy("query_id", "vec_id")
    }),
    // The k-NN GRAPH: every corpus vector's KGraph nearest neighbors —
    // the canonical bulk-ANN workload (the input of graph-based dedup,
    // clustering, and link-prediction passes). Query side == corpus:
    // this is the regime where broadcast serving is impossible by
    // construction, so the build IS sim_join_ivf's distributed shape —
    // assignment and probe selection in-scan, ONE shuffle-hash join on
    // cen_id, TopKAgg per node. KGraph = 5 bounds the output at 5·|V|.
    "sim_knn_graph" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.ivfJoinTopK(corpus, corpus, NCentroids, NProbe, KGraph)
        .orderBy("query_id", "rank")
    }),
    // INCREMENTAL kNN-graph arm (the family's standing pattern: batch +
    // incremental for every expensive artifact): ~10% of the corpus
    // arrives as the batch (ids ≥ NCentroids with vec_id % 10 == 7 — the
    // centroid ids stay standing, the src_ivf_append invariant), the
    // standing graph is lineage-free checkpointed state, and
    // [[Similarity.knnGraphIncremental]] folds the batch in with
    // batch-sized work only. The oracle is the FULL REBUILD over the
    // union — the equivalence is exact, so this shares sim_knn_graph's
    // twin construction verbatim.
    "sim_knn_graph_incremental" -> ((s, dir) => {
      import graft.CheckpointUtil.track
      val full = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val isBatch = col("vec_id") >= NCentroids && col("vec_id") % 10 === 7
      val standing = full.filter(!isBatch)
      val g = track(
        Similarity.ivfJoinTopK(standing, standing, NCentroids, NProbe, KGraph)
          .localCheckpoint(true)) // the pre-existing graph, standing state
      Similarity.knnGraphIncremental(standing, g, full.filter(isBatch),
          NCentroids, NProbe, KGraph)
        .orderBy("query_id", "rank")
    }),
    // Semantic CLUSTERING over the k-NN graph: mutual-kNN edges above
    // KnnClusterTau, then pointer-doubling connected components — the
    // degree-bounded (≤ KGraph per node) clustering a 100 TB semantic
    // grouping pass runs, vs dedup_semantic's IVF-list tau pairs.
    // Mutuality (edge kept iff BOTH endpoints rank each other) is the
    // standard density filter: a hub cannot absorb its entire probed
    // list, only the vectors that reciprocate. Edge set is a self
    // left-semi join of the graph against its own reversal — graph-sized,
    // never corpus².
    "sim_cluster_knn" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val g = Similarity.ivfJoinTopK(corpus, corpus, NCentroids, NProbe, KGraph)
        .filter(col("cos") >= KnnClusterTau)
        .select(col("query_id").as("id_a"), col("vec_id").as("id_b"))
        .persist() // feeds both sides of the mutuality semi-join
      val mutual = g.join(
        g.select(col("id_b").as("id_a"), col("id_a").as("id_b")),
        Seq("id_a", "id_b"), "left_semi")
      Dedup.connectedComponents(mutual)
        .select(col("id"), col("canonical_id").as("cluster_id"))
        .orderBy("id")
    }),
    // Margin-based pair MINING over the two label-parity halves — the
    // bitext-mining criterion (cosine normalized by both endpoints'
    // neighborhood means, best candidate per source vector); see
    // [[Similarity.marginPairs]] for the two-directional-kNN shape and
    // the rank-ordered float folds that keep it hash-exact.
    "sim_margin_pairs" -> ((s, dir) => {
      val corpus = Similarity.prepareWith(Tables.embeddings(s, dir), col("label"))
        .persist()
      Similarity.marginPairs(corpus, col("label") % 2 === 0, KGraph,
          NCentroids, NProbe)
        .orderBy("query_id")
    }),
    // HYBRID retrieval with reciprocal-rank fusion — the standard fusion
    // of a lexical (BM25) arm and a vector (cosine) arm over the SAME
    // doc-id space: score = Σ_arm 1/(k0 + rank), docs present in either
    // top-k. Both arms reuse their standalone scorers verbatim (the
    // shared BM25 scorer; bruteForceTopK for the single query vector —
    // at corpus scale the vector arm would swap to an IVF tier, the
    // fusion tail is arm-agnostic). 100 TB shape: two scans, each
    // reduced by a bounded mergeable top-k (TopKAgg global / per-query
    // partial agg — no full sort), then a k-bounded 2×20-row fusion
    // join. Ranks are integers, the fused score a fixed-order sum of two
    // exact reciprocals — hash-exact.
    "sim_hybrid_rrf" -> ((s, dir) =>
      hybridRrfFused(s, dir).orderBy(col("rrf").desc, col("doc_id"))),
    // LATE-INTERACTION retrieval — see [[maxsimTopK]]; the one retrieval
    // law the single-vector family cannot express (a whole-doc embedding
    // averages topics; maxsim scores each query aspect against the
    // best-matching chunk independently).
    "sim_maxsim_topk" -> ((s, dir) =>
      maxsimTopK(Spread.ifNarrow(Tables.documents(s, dir), col("doc_id")),
        MaxsimK).orderBy("rank")),
    // scale arm of late interaction — chunk-grain IVF probing instead of
    // the all-chunks cross join (see [[maxsimTopKIvf]])
    "sim_maxsim_ivf" -> ((s, dir) =>
      maxsimTopKIvf(Spread.ifNarrow(Tables.documents(s, dir), col("doc_id")),
        MaxsimK).orderBy("rank")),
    // PERSISTED maxsim serving — the chunk table bucketed by cen_id once,
    // probed per query batch (see [[maxsimServed]]); row-identical to the
    // in-query IVF arm (same oracle verbatim), bucket pruning spec-pinned
    "src_maxsim_bucketed" -> ((s, dir) =>
      maxsimServed(s, dir,
        Spread.ifNarrow(Tables.documents(s, dir), col("doc_id")),
        MaxsimK).orderBy("rank")),
    // Append-maintained maxsim chunk index — the daily-ingest arm of the
    // late-interaction table (the src_ivf_append lifecycle, chunk
    // edition): the base docs' chunks build the bucketed table ONCE; a
    // later doc batch is chunked, embedded, and assigned in-scan with the
    // SAME centroids (base covers the quantizer window — require-pinned,
    // which is exactly why the full-rebuild oracle applies verbatim) and
    // appended into the same bucket layout. Probe == full rebuild.
    "src_maxsim_append" -> ((s, dir) => {
      // registry-tracked; eager localCheckpoint, NOT persist (r17): the two
      // bucketed WRITE passes below are saveAsTable commands, and profiling
      // showed them re-running the whole chunk+embed pipeline from parquet
      // instead of reading the persisted frame (8.5 s + 17 s executor CPU
      // re-embedding) — a checkpoint's lineage is a materialized leaf, so
      // nothing can recompute it. The probe consumes ch lazily, so the
      // checkpoint outlives this builder — the between-queries sweep frees it
      val ch = graft.CheckpointUtil.track(chunkVecs(
        Spread.ifNarrow(Tables.documents(s, dir), col("doc_id")))
        .localCheckpoint(true))
      val base = ch.filter(col("doc_id") < MaxsimSplit)
      // base-slice centroids == full-corpus centroids BY CONTAINMENT:
      // the quantizer window (doc_id < NCentroids) sits inside the base
      // slice, so whatever chunks survive the zero-norm drop survive
      // identically on both sides — a degenerate corpus collapses the
      // set the same way in engine and oracle (a fixed-cardinality
      // require here broke the adversarial fixture, which legitimately
      // loses first-chunks)
      require(NCentroids <= MaxsimSplit,
        "maxsim centroid window must sit inside the base slice")
      val centSeq = maxsimCentroids(base)
      val tbl = scratchTable(s, "graft_maxsim_append")
      writeMaxsimChunks(base, tbl, centSeq)
      writeMaxsimChunks(ch.filter(col("doc_id") >= MaxsimSplit), tbl, centSeq,
        mode = "append")
      maxsimProbeServed(s, tbl, ch, centSeq, MaxsimK).orderBy("rank")
    }),
    // Late-interaction SERVING-FIDELITY report — the acceptance check a
    // maxsim serving migration runs: the exact all-chunks ranking and the
    // persisted chunk-IVF ranking full-outer-joined per doc, rank 0 =
    // absent from that arm. Composes the two REGISTERED chains verbatim
    // (maxsimTopK / maxsimServed — shared front and tail builders);
    // everything past the two chains is a k x k-row join.
    "sim_maxsim_fidelity" -> ((s, dir) => {
      val docs = Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))
      val ex = maxsimTopK(docs, MaxsimK)
        .select(col("doc_id"), col("rank").as("rank_exact"))
      val sv = maxsimServed(s, dir, docs, MaxsimK)
        .select(col("doc_id"), col("rank").as("rank_served"))
      ex.join(sv, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("rank_exact"), lit(0L)).as("rank_exact"),
          coalesce(col("rank_served"), lit(0L)).as("rank_served"))
        .orderBy("doc_id")
    }),
    // MULTI-QUERY maxsim serving — a batch of query docs against the
    // persisted chunk index, each ranked by its own TopKAgg group (see
    // [[maxsimProbeMulti]]; the pipeline_retrieve_multi regime for the
    // late-interaction family). Also the per-micro-batch body of the
    // streaming serve arm.
    "src_maxsim_multi" -> ((s, dir) => {
      val docs = Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))
      // same full-corpus chunk table as src_maxsim_bucketed — the memoized
      // serving build (one table per (session, dir), ADVICE r15)
      val (tbl, centSeq) = maxsimServing(s, dir, docs)
      val q = chunkVecs(docs.filter(col("doc_id") < MultiNQueries))
        .select(col("doc_id").as("qdoc"), col("chunk_idx").as("qi"),
          col("v").as("qv"), col("nrm").as("qnrm"))
      maxsimProbeMulti(s, tbl, q, centSeq, MaxsimK).orderBy("qdoc", "rank")
    }),
    // Chunk-index COMPACTION under the serving layout (the
    // src_ivf_compact lifecycle, chunk edition): base write + append
    // leave one file per (writer pass x bucket); compact rewrites into a
    // fresh table under the SAME bucket spec, and the probe of the
    // compacted table must be row-identical to the in-flight index —
    // the shared full-rebuild oracle proves it.
    "src_maxsim_compact" -> ((s, dir) => {
      // eager localCheckpoint for the same reason as src_maxsim_append: the
      // write passes re-ran the chunk+embed pipeline past the persist
      val ch = graft.CheckpointUtil.track(chunkVecs(
        Spread.ifNarrow(Tables.documents(s, dir), col("doc_id")))
        .localCheckpoint(true))
      val base = ch.filter(col("doc_id") < MaxsimSplit)
      val centSeq = maxsimCentroids(base)
      val tbl = scratchTable(s, "graft_maxsim_precompact")
      val compacted = scratchTable(s, "graft_maxsim_compacted")
      writeMaxsimChunks(base, tbl, centSeq)
      writeMaxsimChunks(ch.filter(col("doc_id") >= MaxsimSplit), tbl, centSeq,
        mode = "append")
      graft.sources.Layouts.compactBucketed(s, tbl, compacted, "cen_id",
        nBuckets = 16, sortCols = Seq("cen_id", "doc_id", "chunk_idx"))
      maxsimProbeServed(s, compacted, ch, centSeq, MaxsimK).orderBy("rank")
    }),
    // E2E RETRIEVAL composition — the serving-side pipeline the ingestion
    // operators exist to feed: hybrid lexical+vector fusion
    // ([[hybridRrfFused]], shared with sim_hybrid_rrf — no fork), unit
    // vectors joined back for the fused ≤2k-doc pool, MMR diversification
    // (the shared [[MmrAgg]], rel = the fused RRF score, one group), doc
    // metadata attached last — metadata and text never enter the ranking
    // stages. Every stage is the already-pinned operator; the composition
    // adds only k-bounded joins.
    "pipeline_e2e_retrieve" -> ((s, dir) =>
      retrieveRanked(s, dir)
        .select(col("rank"), col("doc_id"), col("rrf"), col("mmr"),
          col("source"), col("lang"))
        .orderBy("rank")),
    // SERVED e2e retrieval — the SAME pipeline over the PERSISTED
    // artifacts: the vector arm probes the cen_id-bucketed IVF-PQ table
    // (coarse ADC bucket+column-pruned, exact rescore of survivors — the
    // src_ivfpq_bucketed read path), the lexical arm reads the BM25
    // scores materialized once. This is the production regime: index
    // built at write time, a query touches only probed buckets and a
    // k-bounded tail — the in-query chain above re-scores the raw corpus
    // per invocation and exists as the exact-arm yardstick. Fusion, MMR,
    // metadata are the shared builders (rrfFuse/retrieveRankedFrom) — the
    // two chains cannot fork past the arms. With exhaustive probing the
    // two are row-identical (ServedRetrieveSpec).
    "pipeline_e2e_retrieve_served" -> ((s, dir) =>
      retrieveServedRanked(s, dir)
        .select(col("rank"), col("doc_id"), col("rrf"), col("mmr"),
          col("source"), col("lang"))
        .orderBy("rank")),
    // MULTI-QUERY served retrieval — the true serving regime: a BATCH of
    // queries against the persisted IVF-PQ index, each diversified by its
    // OWN MMR group. The per-query pool is the served top-MmrN (exact
    // rescore over probed lists, the src_ivfpq_bucketed read), rel = the
    // exact cosine; MMR runs as ONE mergeable aggregate per query group —
    // the aggregate's partition key IS the query id, so a thousand
    // concurrent queries diversify in parallel with ~10 KB state each and
    // no window anywhere. Twin: the shared ivfPqRankedCtes chain at 4
    // queries feeding the shared per-query mmrGreedyCtes steps.
    "pipeline_retrieve_multi" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val (tbl, centSeq, codebook) = ivfPqServing(s, dir, corpus)
      val topn = probePqLists(s, tbl, codebook, PqM,
          serveProbeRows(corpus, centSeq, MultiNQueries), NCandidates, MmrN)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("cos"))
      val pool = topn.join(
        corpus.select(col("vec_id").as("doc_id"),
          graft.functions.NativeExpressions.divArray(col("v"), col("nrm")).as("u")), Seq("doc_id"))
      pool.groupBy(col("query_id"))
        .agg(MmrAgg.column(MmrN, MmrK, MmrLambda,
          col("cos"), col("doc_id"), col("u")).as("sel"))
        .select(col("query_id"), posexplode(col("sel")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col._1").as("doc_id"), col("col._2").as("cos"),
          col("col._3").as("mmr"))
        .orderBy("query_id", "rank")
    }),
    // SERVING-FIDELITY report — the acceptance check a serving migration
    // runs before cutting traffic to the compressed index: the exact
    // (brute-arm) and served (IVF-PQ-arm) rankings full-outer-joined per
    // doc, rank 0 = absent from that arm. Composes the two REGISTERED
    // chains verbatim (shared builders — the report can never describe
    // other parameters); everything past the two chains is a k×k-row
    // join. The gate pins the per-doc rank displacement table itself, so
    // a quantizer/probe change that moves the served ranking shows up as
    // a hash diff here even when both chains stay internally green.
    "sim_retrieve_fidelity" -> ((s, dir) => {
      val ex = retrieveRanked(s, dir).select(col("doc_id"), col("rank").as("rank_exact"))
      val sv = retrieveServedRanked(s, dir).select(col("doc_id"), col("rank").as("rank_served"))
      ex.join(sv, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("rank_exact"), lit(0L)).as("rank_exact"),
          coalesce(col("rank_served"), lit(0L)).as("rank_served"))
        .orderBy("doc_id")
    }),
    // CONTEXT PACKING — the last serving step: fit the diversified
    // ranking into a model's context budget. PREFIX packing (include
    // ranks 1..m while the running token total fits — a lower-ranked doc
    // never displaces a higher-ranked one), token counts from the shared
    // tokenCount kernel. Packs the SERVED ranking — in production the
    // pack stage sits behind the persisted-index read path, not an
    // in-query index rebuild. The running sum is a global Window over the
    // ≤MmrK-row ranked frame — the one place a window is the right tool:
    // the frame is k-bounded by construction (the repo's no-Window rule
    // exists because corpus-sized window partitions can't split; a
    // 10-row serving frame can't straggle).
    "pipeline_context_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      retrieveServedRanked(s, dir)
        .withColumn("cum_tokens",
          sum(col("n_tokens")).over(Window.orderBy(col("rank"))))
        .filter(col("cum_tokens") <= ContextBudget)
        .select(col("rank"), col("doc_id"), col("n_tokens"),
          col("cum_tokens"), col("source"), col("lang"))
        .orderBy("rank")
    }),
    // Distributed RANGE join: radius semantics at join scale — the query
    // side is 20% of the corpus and stays a distributed relation; same
    // cen_id shuffle-hash join as sim_join_ivf, tau gate instead of
    // per-query top-k state.
    "sim_range_join" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.ivfRangeJoin(corpus, corpus.filter(col("vec_id") % 5 === 2),
          NCentroids, NProbe, TauRange)
        .orderBy("query_id", "vec_id")
    }),
    // Distributed ANN JOIN: the query side is 20% of the corpus — far past
    // what the collect-and-broadcast serving tiers allow — and stays a
    // distributed relation end to end; both sides meet in ONE shuffle-hash
    // join on cen_id. See Similarity.ivfJoinTopK for the shuffle story.
    "sim_join_ivf" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.ivfJoinTopK(corpus, corpus.filter(col("vec_id") % 5 === 2),
          NCentroids, NProbe, K)
        .orderBy("query_id", "rank")
    }),
    // the skew arm: hot lists split s-ways, tail lists untouched; result
    // row-identical to sim_join_ivf — the oracle is shared verbatim.
    // hotThreshold = the MEAN list size: above-average lists salt,
    // below-average stay tail, so the fixture exercises BOTH arms (the
    // near-uniform lists straddle their mean). The extra count() here is
    // demo parameterization — production picks the threshold from the
    // same sampled stats pass joinSkewAwareSampled already runs.
    "sim_join_ivf_salted" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.ivfJoinTopKSalted(corpus, corpus.filter(col("vec_id") % 5 === 2),
          NCentroids, NProbe, K, s = 4,
          hotThreshold = math.max(1L, corpus.count() / NCentroids))
        .orderBy("query_id", "rank")
    }),
    // BULK ANN over the PERSISTED index: the same 20%-of-corpus query
    // relation as sim_join_ivf, but the corpus side is the
    // src_ivfpq_bucketed artifact — coarse ADC on the codes column inside
    // the cen_id shuffle-hash join (bucketed side exchange-free, v never
    // read for losers), exact rescore of the TopKAgg survivors. See
    // joinPqTopK for the shuffle story; oracle = the shared
    // ivfPqRankedCtes replay at this query predicate.
    "sim_join_pq" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val (tbl, centSeq, codebook) = ivfPqServing(s, dir, corpus)
      joinPqTopK(s, tbl, codebook, PqM, corpus.filter(col("vec_id") % 5 === 2),
          centSeq, NProbe, NCandidates, K)
        .orderBy("query_id", "rank")
    }),
    // the skew arm of the bulk PQ join: above-mean lists split 4-ways
    // (both the salted and tail paths exercised on the near-uniform
    // fixture, as in sim_join_ivf_salted); row-identical to sim_join_pq —
    // the oracle is shared verbatim
    "sim_join_pq_salted" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val (tbl, centSeq, codebook) = ivfPqServing(s, dir, corpus)
      joinPqTopK(s, tbl, codebook, PqM, corpus.filter(col("vec_id") % 5 === 2),
          centSeq, NProbe, NCandidates, K,
          saltS = 4, hotThreshold = math.max(1L, corpus.count() / NCentroids))
        .orderBy("query_id", "rank")
    }),
    // FILTERED ANN: one full-corpus index, attribute predicate applied at
    // query time inside the probed lists (pre-filter — exact within lists,
    // never short of k the way post-filtering is); label=3 is a ~10%
    // selective filter on the fixture
    "sim_topk_filtered" -> ((s, dir) => {
      val corpus = Similarity.prepareWith(Tables.embeddings(s, dir), col("label"))
        .persist()
      Similarity.ivfTopKWhere(corpus, col("vec_id") < NQueries,
          col("label") === 3, NCentroids, NProbe, K)
        .orderBy("query_id", "rank")
    }),
    // Deterministic LSH tier ([[Similarity.srpTopK]]): the SRP signature
    // machinery behind dedup_srp_pairs pointed at top-k retrieval —
    // hash-exact where sim_topk_lsh (Spark-ML BRP-LSH, non-replicable
    // internals) can only be rows-only; that query stays as the ML
    // comparison arm. Recall vs brute is pinned in SimilaritySpec.
    "sim_topk_srp" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.srpTopK(corpus, col("vec_id") < NQueries, K)
        .orderBy("query_id", "rank")
    }),
    "sim_topk_lsh" -> ((s, dir) => {
      // distances are UNIT-sphere Euclidean (lshTopK hashes normalized
      // vectors), so maxDist 1.35 is a principled cosine floor of
      // 1 - 1.35^2/2 ≈ 0.09 — comfortably below the fixture's ~0.3+
      // 10th-NN cosines, well above the ~0 random-pair bulk: the join
      // prunes the far tail instead of keeping every bucket collision
      Similarity.lshTopK(Tables.embeddings(s, dir), col("vec_id") < NQueries, K,
          maxDist = 1.35)
        .orderBy("query_id", "rank")
    }),
    // trained coarse quantizer: k-means|| internals aren't oracle-replicable
    // (like sim_topk_lsh) — rows-only driver check; recall vs brute force is
    // spec-pinned in SimilaritySpec. samplePct=60: the quantizer trains on
    // a consistent-hash sample, the 100 TB regime (a coarse quantizer
    // never needs the corpus).
    "sim_topk_ivf_kmeans" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.ivfTopKKMeans(corpus, col("vec_id") < NQueries, NCentroids, NProbe, K,
          samplePct = 60)
        .orderBy("query_id", "rank")
    }),
    // the HASH-EXACT trained-quantizer arm ([[Similarity.lloydCentroids]]):
    // driver-side Lloyd on a capped consistent-hash sample with stride
    // init, declared fold orders, and pinned ties — so the DuckDB twin
    // replays the training loop as unrolled in-order list_reduce CTEs and
    // the whole tier (training included) is hash-exact, where the Spark-ML
    // k-means|| arm above can only ever be rows-only.
    "sim_topk_ivf_lloyd" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.ivfTopKLloyd(corpus, col("vec_id") < NQueries, NCentroids,
          NProbe, K, iters = LloydIters, samplePct = 60, maxSample = LloydMaxSample)
        .orderBy("query_id", "rank")
    }),
    // Unsupervised domain discovery — the cluster-then-balance mixing
    // prep (DoReMi/cluster-balance recipes): train the hash-exact Lloyd
    // quantizer on the embedding corpus, assign EVERY vector to its
    // nearest center in-scan (argmax kernel against the plan-constant
    // centers — no join, no |corpus|×k expansion), then one doc-grain
    // agg per discovered domain: size, corpus share (integer ppm), and
    // the modal source with its in-cluster share (min-struct over
    // (-count, source): partial-aggregable, ties to the lexicographically
    // smallest source). 100 TB shape: the only shuffles are the id
    // equi-join to the doc metadata and the two k-bounded aggs; zero-norm
    // vectors are excluded by prepare() (share denominators count
    // ASSIGNED docs).
    "pipeline_domain_discover" -> ((s, dir) => {
      import Packing.DivOps
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val cents = Similarity.lloydCentroids(corpus, NCentroids, LloydIters,
        samplePct = 60, maxSample = LloydMaxSample)
      val assigned = Similarity.ivfAssign(corpus, cents)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      // persist: the (cluster, source) counts feed BOTH the grand total
      // and the per-cluster report — k·|sources|-bounded, tiny
      val bySrc = assigned.join(docs, col("vec_id") === col("doc_id"))
        .groupBy(col("cen_id"), col("source"))
        .agg(count(lit(1)).as("n_src"))
        .persist()
      val tot = bySrc.agg(sum(col("n_src")).as("t"))
      bySrc.groupBy(col("cen_id"))
        .agg(sum(col("n_src")).as("n_docs"),
          min(struct((-col("n_src")).as("m"), col("source").as("s"))).as("ms"))
        .crossJoin(broadcast(tot))
        .select(col("cen_id").as("cluster_id"),
          col("n_docs"),
          ((col("n_docs") * 1000000L) div col("t")).as("share_ppm"),
          col("ms.s").as("top_source"),
          ((-col("ms.m") * 1000000L) div col("n_docs")).as("top_source_ppm"))
        .orderBy("cluster_id")
    }),

    // MMR DIVERSIFIED top-k — the rerank between retrieval and context
    // assembly: pure cosine top-k hands back near-duplicates of one
    // relevant region; MMR greedily trades relevance against similarity
    // to what's already selected. ONE aggregation does everything
    // ([[MmrAgg]]): the scan feeds map-side-partial top-n pooling (≤ n
    // candidates per query per partition cross the wire, unit vectors
    // riding the ~10 KB state), and the inherently-sequential greedy runs
    // per query inside finish — distributed over queries, no join-back,
    // no window, no second pass. Query side is the broadcast serving
    // regime; rel and the unit vector are in-scan expressions.
    "sim_mmr_rerank" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val q = corpus.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qnrm"))
      corpus.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          Dedup.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("rel"),
          graft.functions.NativeExpressions.divArray(col("v"), col("nrm")).as("u"))
        .groupBy("query_id")
        .agg(MmrAgg.column(MmrN, MmrK, MmrLambda,
          col("rel"), col("vec_id"), col("u")).as("sel"))
        .select(col("query_id"), posexplode(col("sel")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col._1").as("vec_id"), col("col._2").as("rel"),
          col("col._3").as("score"))
        .orderBy("query_id", "rank")
    }),

    // kNN LABEL PROPAGATION — weak-label smoothing over the kNN graph
    // (the LPA denoising pass a labeled training corpus runs before the
    // labels are trusted: snap each example toward its semantic
    // neighborhood's consensus). Two synchronous modal-vote rounds
    // ([[Similarity.lpRound]]: most frequent neighbor label, tie to the
    // smallest) over the SAME distributed kNN graph sim_knn_graph builds
    // — the graph is built once (the dominant cost) and persisted; each
    // round is one graph-sized equi-join + two partial-aggregable aggs,
    // integer votes end to end, so the whole pass is hash-exact. Emits
    // the full trajectory (label_0/1/2) so downstream filters can key on
    // "changed at round t" (disagreement with the neighborhood == the
    // standard noisy-label signal).
    "sim_label_prop" -> ((s, dir) => {
      import graft.CheckpointUtil.track
      val corpus = Similarity.prepareWith(Tables.embeddings(s, dir), col("label"))
        .persist() // feeds both join sides of the graph build + the seeds
      // iterative state rolls as eager localCheckpoints (the loop
      // convention): each round's plan roots at lineage-free leaves, so
      // round T's plan — and the assembly's — never re-embeds the graph
      // build T times
      val g = track(
        Similarity.ivfJoinTopK(corpus, corpus, NCentroids, NProbe, KGraph)
          .select(col("query_id").as("node"), col("vec_id").as("nbr"))
          .localCheckpoint(true)) // both vote rounds scan this edge list
      val l0 = track(corpus.select(col("vec_id").as("node"),
        col("label").cast("long").as("l")).localCheckpoint(true))
      val l1 = track(Similarity.lpRound(g, l0).localCheckpoint(true))
      val l2 = Similarity.lpRound(g, l1)
      l0.join(l1.select(col("node"), col("l").as("l1")), Seq("node"))
        .join(l2.select(col("node"), col("l").as("l2")), Seq("node"))
        .select(col("node").as("vec_id"), col("l").as("label_0"),
          col("l1").as("label_1"), col("l2").as("label_2"))
        .orderBy("vec_id")
    }),

    "sim_topk_quantized" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.quantizedTopK(corpus, col("vec_id") < NQueries, NCandidates, K)
        .orderBy("query_id", "rank")
    }),
    // Product-quantization tier: m-byte codes encoded in-scan, ADC coarse
    // scoring (full-precision query vs PQ reconstruction), exact rescore of
    // survivors — deterministic end to end, hash-exact oracle.
    "sim_topk_pq" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.pqTopK(corpus, col("vec_id") < NQueries, PqCodewords, PqM,
        NCandidates, K)
        .orderBy("query_id", "rank")
    }),
    // IVF-PQ: probed lists bound WHICH rows are scored, PQ codes bound WHAT
    // is read per scored row — the canonical 100 TB ANN composition, still
    // hash-exact (deterministic quantizers + pinned tie-breaks).
    "sim_topk_ivfpq" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.ivfPqTopK(corpus, col("vec_id") < NQueries, NCentroids, NProbe,
        PqCodewords, PqM, NCandidates, K)
        .orderBy("query_id", "rank")
    }),
    // TRAINED PQ codebooks, hash-exact arm: per-subspace stride-init
    // Lloyd on the shared capped sample (Similarity.trainPqCodebookStride
    // — the PQ sibling of the sim_topk_ivf_lloyd quantizer), pushed
    // through the UNCHANGED pqTopKWith encode/ADC path; the DuckDB twin
    // replays all m training chains as one subspace-grouped unrolled CTE
    // sequence, so codebook training itself is inside the driver gate.
    "sim_topk_pq_lloyd" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.pqTopKWith(corpus, col("vec_id") < NQueries,
          Similarity.trainPqCodebookStride(corpus, PqCodewords, PqM,
            samplePct = 60, maxSample = LloydMaxSample, iters = LloydIters),
          PqM, NCandidates, K)
        .orderBy("query_id", "rank")
    }),
    // TRAINED PQ codebooks (per-subspace Lloyd k-means on a consistent-hash
    // sample, composite codewords — Similarity.trainPqCodebook): the
    // production recall tier over the SAME encode/ADC kernels and plan as
    // sim_topk_pq. Its seeded k-means++ internals aren't oracle-replicable
    // (scala Random draws) → rows-only driver check; recall@10 >= 0.9 is
    // pinned in SimilaritySpec, and sim_topk_pq_lloyd pins the trained-
    // codebook PATH hash-exactly.
    "sim_topk_pq_trained" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.pqTopKTrained(corpus, col("vec_id") < NQueries,
        PqCodewordsTrained, PqMTrained, NCandidatesTrained, K)
        .orderBy("query_id", "rank")
    }),
    // Full production IVF-PQ: sample-trained spherical k-means coarse
    // lists + trained per-subspace codebooks. Rows-only; recall spec-pinned.
    "sim_topk_ivfpq_trained" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      Similarity.ivfPqTopKTrained(corpus, col("vec_id") < NQueries, NCentroids,
        NProbeTrained, PqCodewordsTrained, PqMTrained, NCandidatesIvfPqTrained, K)
        .orderBy("query_id", "rank")
    }),
    // Injected-centers IVF: stride-selected corpus vectors (vec_id = 3+7i)
    // with REINDEXED cen_ids 0..15 pushed through ivfTopKWith — proves the
    // probe machinery is hash-exact for externally supplied centers (cen_id
    // independent of vec_id), the oracle-able stand-in for the k-means tier
    // whose centers aren't replicable cross-engine.
    "sim_topk_ivf_fixed" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val cents = corpus
        .filter(col("vec_id") >= 3 && col("vec_id") < 3 + 7 * NCentroids &&
          (col("vec_id") - 3) % 7 === 0)
        .select(((col("vec_id") - 3) / 7).cast("long").as("cen_id"),
          col("v").as("cv"), col("nrm").as("cnrm"))
      Similarity.ivfTopKWith(cents, corpus, col("vec_id") < NQueries, NProbe, K)
        .orderBy("query_id", "rank")
    }),
    // Persisted IVF lists: the assigned corpus written bucketed by cen_id
    // (graft.sources.Layouts.writeBucketed) and probed back as a
    // BUCKET-PRUNED read — the repeated-query serving path promised by the
    // Similarity scaladoc. Assignment cost is paid once at write; a probe
    // scans only the buckets holding its probed lists (SelectedBucketsCount
    // in the scan, pinned by PlanShapeSpec) and the corpus side never
    // shuffles. Result is row-identical to sim_topk_ivf (same oracle).
    // Scratch tables are app-id-suffixed like SourceQueries' paths; stale
    // ones from prior sessions are dead files in spark-warehouse, never
    // reused (deleting them here would race a concurrent driver).
    "src_ivf_bucketed" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val centSeq = Similarity.collectCentroids(
        Similarity.centroids(corpus, NCentroids))
      val tbl = scratchTable(s, "graft_ivf_lists")
      graft.sources.Layouts.writeBucketed(
        Similarity.ivfAssignWith(corpus, centSeq), tbl, "cen_id",
        nBuckets = 16, sortCols = Seq("cen_id", "vec_id"))
      probeBucketed(s, tbl, corpus, centSeq)
    }),
    // Append-maintained IVF lists: the daily-ingest lifecycle of a served
    // ANN index. The base corpus builds the bucketed table ONCE; a later
    // batch is assigned in-scan with the SAME centroids (the quantizer is a
    // property of the index, never retrained per ingest) and APPENDED into
    // the same bucket layout — no rebuild, no reshuffle of the existing
    // lists. The probe result is hash-identical to a full rebuild over
    // base ∪ increment (same oracle as src_ivf_bucketed), which is the
    // whole point: ingest must not change answers.
    // Persisted IVF-PQ serving — the full production layout in ONE
    // artifact: the corpus written bucketed by cen_id carrying the m-byte
    // PQ codes, the norm, AND the full vector. A probe then reads the
    // table twice, each time minimally: the coarse ADC pass is BUCKET-
    // pruned (only probed lists) and COLUMN-pruned (codes+nrm — the full
    // vector column is never deserialized for losers; parquet columnar IO
    // makes the 64x narrower coarse read real, pinned via ReadSchema),
    // and the exact rescore reads full vectors only for the <= |Q|*cand
    // survivors via a broadcast semi-join into the scan. Assignment and
    // encoding are paid once at write. Deterministic quantizers (first-N,
    // same as sim_topk_ivfpq) -> hash-exact oracle at the serving query
    // count.
    "src_ivfpq_bucketed" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val (tbl, centSeq, codebook) = ivfPqServing(s, dir, corpus)
      probePqLists(s, tbl, codebook, PqM,
        serveProbeRows(corpus, centSeq), NCandidates, K)
    }),
    // Append-maintained IVF-PQ serving — the daily-ingest arm of the
    // compressed index (the src_ivf_append lifecycle, PQ edition): the
    // base corpus builds the bucketed coded table ONCE; a later batch is
    // assigned AND PQ-ENCODED in-scan with the SAME quantizers (coarse
    // centroids and codebook are properties of the index, never retrained
    // per ingest — retraining would silently re-code the standing lists)
    // and appended into the same bucket layout. The probe is
    // hash-identical to a full rebuild over base ∪ increment (same
    // ivfPqOracle as src_ivfpq_bucketed — the base's first-N quantizers
    // ARE the full corpus's first-N, require-pinned): ingest must not
    // change answers.
    "src_ivfpq_append" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val base = corpus.filter(col("vec_id") < 400)
      val incr = corpus.filter(col("vec_id") >= 400)
      // quantizers from the BASE partition — identical to full-corpus
      // training by construction (centroids() takes vec_id < 16 ⊂ base),
      // which is exactly why the full-rebuild oracle applies verbatim
      val (centSeq, codebook) = ivfPqQuantizers(base)
      require(centSeq.length == NCentroids,
        s"coarse quantizer collapsed to ${centSeq.length}/$NCentroids")
      val tbl = scratchTable(s, "graft_ivfpq_append")
      writeIvfPq(base, tbl, centSeq, codebook)
      writeIvfPq(incr, tbl, centSeq, codebook, mode = "append")
      probePqLists(s, tbl, codebook, PqM,
        serveProbeRows(corpus, centSeq), NCandidates, K)
    }),
    "src_ivf_append" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val base = corpus.filter(col("vec_id") < 400)
      val incr = corpus.filter(col("vec_id") >= 400)
      val centSeq = Similarity.collectCentroids(
        Similarity.centroids(base, NCentroids))
      val tbl = scratchTable(s, "graft_ivf_append")
      graft.sources.Layouts.writeBucketed(
        Similarity.ivfAssignWith(base, centSeq), tbl, "cen_id",
        nBuckets = 16, sortCols = Seq("cen_id", "vec_id"))
      graft.sources.Layouts.writeBucketed(
        Similarity.ivfAssignWith(incr, centSeq), tbl, "cen_id",
        nBuckets = 16, sortCols = Seq("cen_id", "vec_id"), mode = "append")
      probeBucketed(s, tbl, corpus, centSeq)
    }),
    // Index COMPACTION under the serving layout: base write + append (the
    // src_ivf_append lifecycle) leaves every bucket with one file per
    // pass; compact rewrites into a fresh table under the SAME bucket
    // spec — one scan partition per bucket in, one file per bucket out —
    // and the probe of the compacted table must be row-identical to the
    // in-flight IVF (same oracle as the append query proves it).
    "src_ivf_compact" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      val base = corpus.filter(col("vec_id") < 400)
      val incr = corpus.filter(col("vec_id") >= 400)
      val centSeq = Similarity.collectCentroids(
        Similarity.centroids(base, NCentroids))
      val tbl = scratchTable(s, "graft_ivf_precompact")
      val compacted = scratchTable(s, "graft_ivf_compacted")
      graft.sources.Layouts.writeBucketed(
        Similarity.ivfAssignWith(base, centSeq), tbl, "cen_id",
        nBuckets = 16, sortCols = Seq("cen_id", "vec_id"))
      graft.sources.Layouts.writeBucketed(
        Similarity.ivfAssignWith(incr, centSeq), tbl, "cen_id",
        nBuckets = 16, sortCols = Seq("cen_id", "vec_id"), mode = "append")
      graft.sources.Layouts.compactBucketed(s, tbl, compacted, "cen_id",
        nBuckets = 16, sortCols = Seq("cen_id", "vec_id"))
      probeBucketed(s, compacted, corpus, centSeq)
    }),

    // Per-dimension FIXED-POINT moment aggregates — the normalization
    // statistics (mean/variance per dim) every embedding pipeline
    // computes before standardizing, made REPRODUCIBLE: float summation
    // order varies with partitioning, so a double-sum mean differs
    // run-to-run at scale; scaling each value by 2^20 (a pure exponent
    // shift — exact on doubles) and flooring to integer units makes the
    // sums associative longs — the same answer on any partitioning, any
    // engine (that's also what makes the oracle hash-exact). Downstream
    // mean = sum_u / (n << 20). sum_u2 accumulates u² ≈ 2^40 per row, so
    // a long lane wraps silently past ~8M rows/dim (Spark's non-ANSI sum)
    // while the oracle's HUGEINT would not — BOTH sums accumulate in
    // DECIMAL(38,0) (terms cast BEFORE the sum on both engines), so the
    // wide lanes carry ~10^28 rows/dim with the same cross-engine
    // determinism (integer units; decimal addition is exact). The
    // EMITTED columns are the decimal sums cast to STRING: decimal
    // columns are outside the driver gate's hash-stable type set (a
    // DECIMAL(38,0) parquet column hash-mismatches even with values
    // numerically identical — the r12 red row), and scale-0 decimals
    // render as identical plain-digit strings on both engines, so the
    // string lane is exact, wide, AND gate-stable.
    "sim_dim_stats" -> ((s, dir) => {
      val u = floor(col("v").cast("double") * lit(1048576.0)).cast("long")
      Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"), u.as("u"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("u").cast(DecimalType(38, 0))).cast("string").as("sum_u"),
          sum((col("u") * col("u")).cast(DecimalType(38, 0)))
            .cast("string").as("sum_u2"),
          min(col("u")).as("min_u"), max(col("u")).as("max_u"))
        .orderBy("dim")
    }),

    // IVF RECALL report — the other half of the index-quality dashboard
    // next to sim_ivf_health: per query, how many of the exact top-K the
    // probed-list search recovered (integer overlap, so the gate is
    // exact). This is the measurement that decides nProbe/nCentroids
    // retuning; it reuses the registered brute and IVF queries verbatim
    // so the report can never describe different search parameters than
    // the ones served.
    "sim_recall_report" -> ((s, dir) => {
      val brute = queries("sim_topk_brute")(s, dir)
        .select(col("query_id"), col("vec_id"))
      val ivf = queries("sim_topk_ivf")(s, dir)
        .select(col("query_id"), col("vec_id"))
      brute.join(ivf.withColumn("hit", lit(1L)),
          Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
        .orderBy("query_id")
    }),

    // IVF index HEALTH report — the table an ANN operator reads to decide
    // when to retrain or split lists: per list, member count (balance),
    // fixed-point mean-cosine-to-centroid inputs (coherence — a drifting
    // list shows falling cosine mass), and the id range. Assignment is
    // the same in-scan argmax kernel as every IVF tier; the per-member
    // cosine to its OWN centroid comes from a broadcast join against the
    // 16-row centroid frame, floored to 2^20 units so the per-list sums
    // are associative longs (reproducible on any partitioning).
    "sim_ivf_health" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir))
      val centsDf = Similarity.lowestIdCentroids(corpus, NCentroids)
      val assigned = Similarity.ivfAssignWith(corpus,
        Similarity.collectCentroids(centsDf))
      assigned.join(broadcast(centsDf), "cen_id")
        .withColumn("cu", floor(
          Dedup.cosine(col("v"), col("cv"), col("nrm"), col("cnrm"))
            * lit(1048576.0)).cast("long"))
        .groupBy(col("cen_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("cu")).as("sum_cos_units"),
          min(col("cu")).as("min_cos_units"),
          min(col("vec_id")).as("first_member"),
          max(col("vec_id")).as("last_member"))
        .orderBy("cen_id")
    }),

    // Distributed PCA POWER ITERATION — the dominant principal direction
    // of the embedding corpus (the whitening/top-component-removal step
    // of embedding-based curation), computed covariance-free:
    // v ← normalize(Xᵀ(Xv)), [[PcaIters]] rounds, each ONE corpus scan
    // (per-row dot y=⟨x,v⟩ is in-scan column arithmetic) plus one
    // 64-group agg whose per-element contributions floor(y·x_j·2^20) to
    // integer units — associative longs, so the iterate is IDENTICAL on
    // any partitioning (a raw float mat-vec drifts with task order and
    // can never be oracle-compared). The 64 sums collect to the driver
    // (constant-size), normalize in a fixed fold order, and re-enter the
    // next scan as literals — no gram matrix, no per-row state, nothing
    // driver-side that grows with the corpus.
    "sim_pca_power" -> ((s, dir) => {
      import s.implicits._
      val (v, su) = pcaDirection(s, dir)
      (0 until 64).map(j => (j.toLong, v(j), su(j)))
        .toDF("dim", "v", "z_units")
        .orderBy("dim")
    }),

    // TOP-COMPONENT REMOVAL — the whitening step that follows the power
    // iteration (Mu & Arora-style post-processing before embedding
    // dedup/similarity): every vector's projection onto the dominant
    // direction subtracted, x' = x − ⟨x,v⟩v. Per row this is pure in-scan
    // column arithmetic over the broadcast literal v — no cross-row float
    // accumulation anywhere, so the emitted doubles (projection, norm²
    // before/after) are bit-reproducible and the twin compares them
    // exactly. One scan, zero shuffles past the presentation sort.
    "sim_whiten_topdrop" -> ((s, dir) => {
      import graft.functions.NativeExpressions.dot
      val (v, _) = pcaDirection(s, dir)
      val vLit = array(v.toSeq.map(lit): _*)
      val ed = Dedup.toDoubleArray(col("embedding"))
      // native sequential dots — bit-identical to the interpreted
      // aggregate(zip_with...) HOFs they replace (DotProduct's contract)
      val y = dot(ed, vLit)
      val nb = dot(ed, ed)
      // pinned for the same reason as pcaDirection's scan: the whiten pass
      // is three native dots per row on a small-byte frame — AQE's byte
      // floor would re-serialize the unpinned spread to one task
      Spread.pinIfNarrow(Tables.embeddings(s, dir), col("vec_id"))
        .select(col("vec_id"), col("embedding"), y.as("y"), nb.as("norm2_before"))
        // fused native residual self-dot: per element the same
        // (e − y·w) double and the same ascending-index sum of squares as
        // the zip_with + dot(d, d) chain it replaces (ResidualNorm2's
        // contract) — zip_with is interpreted per row, the kernel is
        // whole-stage codegen
        .select(col("vec_id"), col("y"), col("norm2_before"),
          graft.functions.NativeExpressions.residualNorm2(
            Dedup.toDoubleArray(col("embedding")), vLit, col("y"))
            .as("norm2_after"))
        .orderBy("vec_id")
    })
  )

  /** The shared power-iteration loop: [[PcaIters]] rounds of the
    * fixed-point mat-vec (see `sim_pca_power`), returning the final unit
    * direction and the last round's integer sums. */
  private def pcaDirection(s: SparkSession, dir: String): (Array[Double], Array[Long]) = {
    // spread PINNED: the single-file bench scan is otherwise ONE task, and
    // each power-iteration round re-scans it — 4 serial kernel passes. The
    // unpinned spread is AQE-coalescible and the stock 1 MB byte floor
    // re-serializes this small-byte/compute-dense frame (measured 1.65x
    // slower); pinIfNarrow keeps the 4 rounds parallel. Gated, so a real
    // multi-split corpus never repartitions. Persisted across the rounds:
    // every round re-reads the SAME spread frame — without the persist the
    // scan + spread exchange re-runs per round (4 identical shuffles).
    val emb = graft.CheckpointUtil.trackPersist(
      Spread.pinIfNarrow(Tables.embeddings(s, dir), col("vec_id"))
        .select(col("embedding")).persist())
    var v = Array.fill(64)(0.125)
    var su = Array.fill(64)(0L)
    // AQE off for the loop's own tiny actions: each round is ONE 64-long
    // aggregate over the persisted spread frame, but under AQE every
    // exchange materializes as its own job (plus re-planning), so the
    // 4-round loop ran 14 driver jobs of pure orchestration (profiled:
    // stage time 0.4 s vs 1.4 s wall). With AQE off each round is exactly
    // one 2-stage job. Scoped and restored — only the loop's internal
    // actions are affected, and its output is collected literals.
    val aqePrev = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (_ <- 0 until PcaIters) {
        val vLit = array(v.toSeq.map(lit): _*)
        // native sequential dot (bit-identical to the aggregate(zip_with...)
        // HOF by DotProduct's contract) — the HOF is interpreted per row
        val y = graft.functions.NativeExpressions.dot(
          Dedup.toDoubleArray(col("embedding")), vLit)
        // 64 ungrouped sums instead of posexplode + groupBy(j): the explode
        // multiplied every row 64x through a hash aggregation; per-dim sums
        // of the SAME floor(y*e_j*2^20) long terms are associative, so the
        // result is bit-identical while the whole round stays one
        // partial-agg pass with a 64-long row per task (guide §2.3:
        // aggregate before you shuffle).
        val sumCols = (0 until 64).map(j =>
          sum(floor(col("y") * element_at(col("embedding"), j + 1).cast("double")
            * 1048576.0).cast("long")).as(s"s$j"))
        val row = emb.select(y.as("y"), col("embedding"))
          .agg(sumCols.head, sumCols.tail: _*)
          .collect()(0)
        su = Array.tabulate(64)(j => if (row.isNullAt(j)) 0L else row.getLong(j))
        val z = su.map(_.toDouble / 1048576.0)
        val norm = math.sqrt(z.foldLeft(0.0)((a, x) => a + x * x))
        v = z.map(_ / norm)
      }
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", aqePrev)
      graft.CheckpointUtil.releasePersist(emb)
    }
    (v, su)
  }

  /** Power-iteration rounds — enough for a stable dominant direction on
    * the near-isotropic fixture while keeping the unrolled twin legible. */
  val PcaIters = 4

  /** Unrolled [[PcaIters]]-round power-iteration twin (fixed-point
    * mat-vec, driver-fold normalization order — every double bit-equal),
    * ending in `s$PcaIters` (integer sums) and `v$PcaIters` (the unit
    * direction). Shared by the `sim_pca_power` and `sim_whiten_topdrop`
    * oracles so the direction definition cannot fork. */
  private def pcaCtes: String = {
    def iter(k: Int): String =
      s"""y$k AS (SELECT embedding,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(1, 65), j -> CAST(embedding[j] AS DOUBLE) * v[j])),
         |    (a, x) -> a + x) AS y FROM embeddings CROSS JOIN v${k - 1}),
         |u$k AS (SELECT x.j AS j,
         |  CAST(floor(y * x.e * 1048576.0) AS BIGINT) AS u FROM (
         |  SELECT y, unnest(list_transform(range(1, 65),
         |    j -> {'j': CAST(j AS BIGINT), 'e': CAST(embedding[j] AS DOUBLE)})) AS x
         |  FROM y$k)),
         |s$k AS (SELECT j, CAST(SUM(u) AS BIGINT) AS su FROM u$k GROUP BY j),
         |z$k AS (SELECT list(CAST(su AS DOUBLE) / 1048576.0 ORDER BY j) AS z FROM s$k),
         |n$k AS (SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(z, x -> x * x)), (a, x) -> a + x)) AS nrm FROM z$k),
         |v$k AS (SELECT list_transform(z, x -> x / nrm) AS v FROM z$k CROSS JOIN n$k)""".stripMargin
    s"""v0 AS (SELECT list_transform(range(0, 64),
       |  i -> CAST(0.125 AS DOUBLE)) AS v),
       |${(1 to PcaIters).map(iter).mkString(",\n")}""".stripMargin
  }

  /** Builds (once per run) the persisted IVF-PQ serving artifact — the
    * corpus assigned to the first-[[NCentroids]] quantizer, PQ-encoded
    * against the first-[[PqCodewords]] codebook, written cen_id-bucketed
    * carrying (vec_id, cen_id, codes, nrm, v) — and returns the table name
    * with the collected quantizers. ONE constructor behind
    * `src_ivfpq_bucketed` and the served retrieval chain
    * ([[hybridRrfServed]]), so the index layout cannot fork. */
  /** The table name is DIR-TAGGED: a session that serves two corpora (a
    * spec suite touching two SFs, the adversarial sweep) must not have the
    * second build overwrite the table a first-dir memo entry still points
    * at. */
  private def buildIvfPqServing(s: SparkSession, dir: String,
      corpus: DataFrame): ServingArtifact = {
    val (centSeq, codebook) = ivfPqQuantizers(corpus)
    val tbl = scratchTable(s, "graft_ivfpq_lists" + dirTag(dir))
    writeIvfPq(corpus, tbl, centSeq, codebook)
    (tbl, centSeq, codebook)
  }

  /** Collision-free table tag for a corpus dir: hex MD5 prefix of the FULL
    * path (a truncated sanitized suffix let two distinct dirs map to one
    * scratch table, with the second build overwriting the first while its
    * memo entry still passed the tableExists check — ADVICE r15). */
  private def dirTag(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "_" + md.take(6).map(b => f"$b%02x").mkString
  }

  private type ServingArtifact =
    (String, Seq[(Long, Seq[Double], Double)], Seq[Seq[Double]])
  /** Per-session serving-build memos, keyed weakly on the session (the
    * [[Spread]] pattern) then by corpus dir: `hybridRrfServed` is invoked
    * independently by `pipeline_e2e_retrieve_served`, `pipeline_context_pack`,
    * `sim_retrieve_fidelity`, `pipeline_retrieve_multi` and now the bulk
    * join — without the memo each of them rebuilt the SAME IVF-PQ table
    * and re-materialized the SAME BM25 scores per run (the index is built
    * once in production; queries only read). `computeIfAbsent` under the
    * synchronized map also removes the old strictly-sequential-execution
    * assumption on the shared scratch-table name. */
  private val servingCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, ServingArtifact]]())
  private val bm25Cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]())

  /** The memoized (tbl, centSeq, codebook) IVF-PQ serving artifact for
    * `dir`'s corpus — built at most once per (session, dir); rebuilt only
    * if something dropped the scratch table out from under the memo.
    *
    * STATIC-DIR-PER-SESSION ASSUMPTION (ADVICE r15): the memo carries no
    * data fingerprint, so a caller that rewrites `dir`'s parquet files
    * mid-session would be served the stale index. Every harness (driver
    * Verify/Bench, the spec suites) reads immutable fixture dirs; a spec
    * that regenerates a fixture in place must drop the scratch table (or
    * use a fresh dir) to invalidate. */
  private[operators] def ivfPqServing(s: SparkSession, dir: String,
      corpus: => DataFrame): ServingArtifact = {
    val memo = servingCache.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, ServingArtifact]())
    val got = memo.computeIfAbsent(dir, _ => buildIvfPqServing(s, dir, corpus))
    if (s.catalog.tableExists(got._1)) got
    else { memo.remove(dir); memo.computeIfAbsent(dir, _ => buildIvfPqServing(s, dir, corpus)) }
  }

  /** The memoized materialized-BM25 scratch table for `dir` (the served
    * lexical arm's artifact) — same lifecycle as [[ivfPqServing]]. */
  private def bm25Served(s: SparkSession, dir: String): String = {
    val memo = bm25Cache.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, String]())
    def build(): String = {
      val lexTbl = scratchTable(s, "graft_bm25_scores" + dirTag(dir))
      TrainingDataQueries.bm25Scored(s, dir)
        .write.mode("overwrite").saveAsTable(lexTbl)
      lexTbl
    }
    val got = memo.computeIfAbsent(dir, _ => build())
    if (s.catalog.tableExists(got)) got
    else { memo.remove(dir); memo.computeIfAbsent(dir, _ => build()) }
  }

  /** The deterministic serving quantizers: first-[[NCentroids]] coarse
    * centroids + first-[[PqCodewords]] codebook by vec_id, collected once
    * (bounded driver state at any corpus size). */
  private def ivfPqQuantizers(corpus: DataFrame)
      : (Seq[(Long, Seq[Double], Double)], Seq[Seq[Double]]) = {
    // lowest-N SURVIVORS (not vec_id < N): a zero-norm vector among the
    // first ids must not collapse the code space — see Similarity.pqTopK
    val all = Similarity.collectCentroids(
      Similarity.lowestIdCentroids(corpus, math.max(NCentroids, PqCodewords)))
    val centSeq = all.take(NCentroids)
    val codebook: Seq[Seq[Double]] = all.take(PqCodewords).map(_._2)
    require(codebook.length == PqCodewords, // dense-index oracle contract
      s"PQ codebook collapsed to ${codebook.length}/$PqCodewords codewords")
    (centSeq, codebook)
  }

  /** The serving-regime probe set ([[NQueriesServe]] queries ×
    * [[NProbe]] lists), collected once — shared by every bucketed-PQ
    * probe caller. */
  private def serveProbeRows(corpus: DataFrame,
      centSeq: Seq[(Long, Seq[Double], Double)],
      nQueries: Int = NQueriesServe): Seq[(Long, Seq[Double], Double, Long)] = {
    import graft.functions.NativeExpressions
    corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .withColumn("cen_id", explode(
        NativeExpressions.topNCosineIds(col("qv"), col("qnrm"), centSeq, NProbe)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getLong(3)))
      .toSeq
  }

  /** One assign+encode+write pass of `part` into the cen_id-bucketed
    * IVF-PQ layout under FIXED quantizers — shared by the base build and
    * the append arm (the quantizer is a property of the index, never
    * retrained per ingest). */
  private def writeIvfPq(part: DataFrame, tbl: String,
      centSeq: Seq[(Long, Seq[Double], Double)], codebook: Seq[Seq[Double]],
      mode: String = "overwrite"): Unit = {
    import graft.functions.NativeExpressions
    graft.sources.Layouts.writeBucketed(
      Similarity.ivfAssignWith(part, centSeq)
        .withColumn("codes", NativeExpressions.pqEncode(col("v"), codebook, PqM))
        .select(col("vec_id"), col("cen_id"), col("codes"), col("nrm"), col("v")),
      tbl, "cen_id", nBuckets = 16, sortCols = Seq("cen_id", "vec_id"), mode = mode)
  }

  private def scratchTable(s: SparkSession, name: String): String = {
    // dead sessions' scratch tables are plain warehouse directories (the
    // in-memory catalog died with them) — age-gated sweep, see Scratch;
    // this session's own table is excluded regardless of age
    val own = name + "_" + s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
    graft.sources.Scratch.sweepStale(
      graft.sources.Scratch.warehouseDir(s), name + "_", exclude = Set(own))
    own
  }

  /** Serving-path probe of a bucketed list table: probe lists selected
    * in-scan per query, materialized as LITERALS (an attribute-only join
    * predicate can't prune buckets), the pruned scan joined against the
    * broadcast probe set, top-k via the bounded aggregate.
    *
    * The probe set (|Q|·nProbe rows — serving-regime tiny) is COLLECTED
    * once and re-enters the plan as a local relation: one driver roundtrip
    * yields both the literal probe ids for bucket pruning and the
    * broadcast side, with no `persist` — a serving path runs forever, and
    * a per-query cached plan that nothing unpersists is a leak (this
    * replaced exactly that; pinned by CacheHygieneSpec).
    */
  private[operators] def probeBucketed(s: SparkSession, tbl: String, corpus: DataFrame,
                            centSeq: Seq[(Long, Seq[Double], Double)]): DataFrame = {
    import graft.functions.NativeExpressions
    val probeRows = corpus.filter(col("vec_id") < NQueriesServe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .withColumn("cen_id", explode(
        NativeExpressions.topNCosineIds(col("qv"), col("qnrm"), centSeq, NProbe)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getLong(3)))
      .toSeq
    probeListsPruned(s, tbl, probeRows, K)
  }

  /** The shared COMPRESSED serving read against a PQ-coded bucketed list
    * table (vec_id, cen_id, codes, nrm, v): coarse ADC pass bucket-pruned
    * to the probed lists and column-pruned to codes+nrm (the full-vector
    * column never deserializes for losers), exact rescore of the
    * survivors from the same table via a broadcast semi-join into the
    * scan. The per-micro-batch body of
    * [[graft.streaming.StreamingDedup.annServePq]] and the batch body of
    * `src_ivfpq_bucketed`. */
  private[graft] def probePqLists(s: SparkSession, tbl: String,
      codebook: Seq[Seq[Double]], m: Int,
      probeRows: Seq[(Long, Seq[Double], Double, Long)],
      candidates: Int, k: Int): DataFrame = {
    import graft.functions.NativeExpressions
    import s.implicits._
    val probes = probeRows.toDF("query_id", "qv", "qnrm", "cen_id")
    val probeIds = probeRows.map(_._4).distinct.sorted
    val q = probes.select("query_id", "qv", "qnrm").distinct()

    // coarse: bucket-pruned, codes+nrm only — v is NOT selected
    val coarse = s.table(tbl)
      .filter(col("cen_id").isin(probeIds.map(Long.box): _*))
      .select(col("vec_id"), col("cen_id"), col("codes"), col("nrm"))
      .join(broadcast(probes), "cen_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("coarse",
        NativeExpressions.pqAdc(col("qv"), col("codes"), codebook, m) /
          (col("qnrm") * col("nrm")))
      .groupBy(col("query_id"))
      .agg(TopKAgg.column(candidates, col("coarse"), col("vec_id")).as("ck"))
      .select(col("query_id"), explode(col("ck")("_2")).as("vec_id"))
      .join(broadcast(q), "query_id")

    // rescore: full vectors only for survivors (broadcast semi into scan).
    // The cen_id filter is semantics-free (every coarse survivor lives in
    // a probed list) but it is what keeps THIS scan bucket-pruned too —
    // without it the rescore reads all buckets and deserializes the wide
    // v column for every corpus row, per micro-batch in the streaming path
    val rescored = s.table(tbl)
      .filter(col("cen_id").isin(probeIds.map(Long.box): _*))
      .select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(coarse), "vec_id")
      .withColumn("cos", graft.operators.Dedup.cosine(
        col("qv"), col("v"), col("qnrm"), col("nrm")))
    Similarity.topKPerQuery(rescored, k).orderBy("query_id", "rank")
  }

  /** BULK served ANN: a corpus-sized DISTRIBUTED query relation joined
    * against the persisted cen_id-bucketed PQ-coded table — the
    * embedding-refresh / graph-rebuild regime where the serving tiers'
    * collect-probes-to-the-driver step ([[serveProbeRows]]) is exactly
    * wrong. Composition of [[Similarity.ivfJoinTopK]]'s shuffle-hash shape
    * with the `src_ivfpq_bucketed` artifact (the r14 "What's missing"
    * item 1):
    *
    *  - query rows get their probe lists IN-SCAN (topNCosineIds against
    *    the constant quantizer, exploded to nProbe rows) — no driver
    *    roundtrip anywhere;
    *  - the sides meet in ONE shuffle-hash join on cen_id, where the
    *    bucketed table side is EXCHANGE-FREE (its layout already IS the
    *    join partitioning) and is column-pruned to codes+nrm — the
    *    full-vector column never deserializes for coarse losers;
    *  - coarse ADC ranks candidates inside the join, [[TopKAgg]] bounds
    *    each query to `candidates` survivors (map-side partial — probed
    *    hot lists cannot straggle the selection);
    *  - exact rescore joins the survivors back to the query relation and
    *    to the table's full vectors, both SHUFFLE-HASH: every relation in
    *    the rescore is |Q|-proportional, so nothing is broadcast (a
    *    forced broadcast here is the anti-pattern the r12 sweep removed).
    *
    * At 100 TB: table-side wire cost is zero on the coarse leg (bucketed)
    * and one (vec_id, v, nrm) shuffle on the rescore leg; the query side
    * crosses once per leg; no |Q|x|C| expansion beyond the probed lists.
    * Hot-list skew degrades through AQE's skew-join split exactly as in
    * `sim_join_ivf` (the salted variant remains the manual knob). */
  private[operators] def joinPqTopK(s: SparkSession, tbl: String,
      codebook: Seq[Seq[Double]], m: Int, queries: DataFrame,
      centSeq: Seq[(Long, Seq[Double], Double)], nProbe: Int,
      candidates: Int, k: Int,
      saltS: Int = 1, hotThreshold: Long = Long.MaxValue): DataFrame = {
    import graft.functions.NativeExpressions
    val probes = queries
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .withColumn("cen_id", explode(
        NativeExpressions.topNCosineIds(col("qv"), col("qnrm"), centSeq, nProbe)))
    val coded = s.table(tbl)
      .select(col("vec_id"), col("cen_id"), col("codes"), col("nrm"))
    // saltS > 1 = the manual skew knob ([[SaltedJoin.joinSkewAware]] on
    // cen_id, the sim_join_ivf_salted pattern): hot lists split s-ways at
    // the DELIBERATE price of the bucketed side's exchange-free read —
    // the coded rows re-shuffle on (cen_id, salt), which is exactly what
    // splitting a hot list means. Row-identical either way (the shared
    // oracle proves it); the unsalted arm stays the default because AQE's
    // skew split already handles moderate skew without losing the
    // bucketed scan.
    val joined =
      if (saltS > 1)
        SaltedJoin.joinSkewAware(coded, probes, "cen_id",
          hash(col("vec_id")), saltS, hotThreshold)
      else coded.join(probes.hint("shuffle_hash"), "cen_id")
    val coarse = joined
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("coarse",
        NativeExpressions.pqAdc(col("qv"), col("codes"), codebook, m) /
          (col("qnrm") * col("nrm")))
      .groupBy(col("query_id"))
      .agg(TopKAgg.column(candidates, col("coarse"), col("vec_id")).as("ck"))
      .select(col("query_id"), explode(col("ck")("_2")).as("vec_id"))
    val withQ = coarse.join(
      queries.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")).hint("shuffle_hash"), "query_id")
    val rescored = s.table(tbl)
      .select(col("vec_id"), col("v"), col("nrm"))
      .join(withQ.hint("shuffle_hash"), "vec_id")
      .withColumn("cos", graft.operators.Dedup.cosine(
        col("qv"), col("v"), col("qnrm"), col("nrm")))
    Similarity.topKPerQuery(rescored, k)
  }

  /** The shared serving read: collected probe rows (query_id, qv, qnrm,
    * cen_id) against the bucketed list table. Probe ids enter the plan as
    * LITERALS (bucket pruning needs a constant predicate), the probe set
    * as a local relation broadcast into the pruned scan — the lists never
    * shuffle, nothing persists. Also the per-micro-batch body of
    * [[graft.streaming.StreamingDedup.annServeBucketed]]. */
  private[graft] def probeListsPruned(s: SparkSession, tbl: String,
      probeRows: Seq[(Long, Seq[Double], Double, Long)], k: Int): DataFrame = {
    import s.implicits._
    val probes = probeRows.toDF("query_id", "qv", "qnrm", "cen_id")
    val probeIds = probeRows.map(_._4).distinct.sorted
    val lists = s.table(tbl)
      .filter(col("cen_id").isin(probeIds.map(Long.box): _*))
    val cand = lists.join(broadcast(probes), "cen_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.operators.Dedup.cosine(
        col("qv"), col("v"), col("qnrm"), col("nrm")))
    Similarity.topKPerQuery(cand, k).orderBy("query_id", "rank")
  }

  def oracles: Map[String, String] = {
    val e =
      s"""SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings""".stripMargin
    // nrm > 0 mirrors Similarity.prepare's zero-vector drop
    val n = s"SELECT * FROM (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e) WHERE nrm > 0.0"
    // Shared IVF twin, parameterized by the centroid-set CTE: assign by
    // argmax cosine (ties to lowest cen_id), probe top-NProbe lists per
    // query, exact cosine within probed lists, per-query top-K.
    // WITH-chain up through the probed-candidate set `cand` — shared by
    // the top-k twin (rank over cand) and the range twin (tau over cand),
    // so the assign/probe definition cannot fork between them.
    // `probeWhere` overrides the probe-selection rule (default: fixed
    // top-NProbe); the inner select always exposes the probe cosine
    // (`pcos`) and the per-query best (`best`) so a radius rule can gate
    // on them — unused by the fixed-probe twins, zero result impact.
    def ivfCandCtes(centsSql: String, nQueries: Int = NQueries,
                    qPred: Option[String] = None,
                    preCtes: String = "",
                    probeWhere: Option[String] = None): String =
      s"""WITH e AS ($e), nn AS ($n),$preCtes
         |cents AS ($centsSql),
         |assigned AS (
         |  SELECT vec_id, cen_id, v, nrm FROM (
         |    SELECT nn.vec_id, cents.cen_id, nn.v, nn.nrm,
         |      row_number() OVER (PARTITION BY nn.vec_id
         |        ORDER BY ${dotSql("nn.v", "cents.cv")} / (nn.nrm * cents.cnrm) DESC, cents.cen_id) AS crn
         |    FROM nn, cents) WHERE crn = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM nn
         |  WHERE ${qPred.getOrElse(s"vec_id < $nQueries")}),
         |probes AS (
         |  SELECT query_id, qv, qnrm, cen_id FROM (
         |    SELECT q.query_id, q.qv, q.qnrm, cents.cen_id,
         |      ${dotSql("q.qv", "cents.cv")} / (q.qnrm * cents.cnrm) AS pcos,
         |      max(${dotSql("q.qv", "cents.cv")} / (q.qnrm * cents.cnrm))
         |        OVER (PARTITION BY q.query_id) AS best,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${dotSql("q.qv", "cents.cv")} / (q.qnrm * cents.cnrm) DESC, cents.cen_id) AS prn
         |    FROM q, cents) WHERE ${probeWhere.getOrElse(s"prn <= $NProbe")}),
         |cand AS (
         |  SELECT p.query_id, a.vec_id,
         |    ${dotSql("p.qv", "a.v")} / (p.qnrm * a.nrm) AS cos
         |  FROM probes p JOIN assigned a ON p.cen_id = a.cen_id
         |  WHERE a.vec_id <> p.query_id)""".stripMargin
    // Shared fusion-law pieces: the lexical-arm ranking over the bm25
    // chain's `s`, and the RRF fusion over any `lexr`/`vecr` pair — ONE
    // definition each behind the in-query AND served hybrid twins, the
    // SQL mirror of the Scala lexTopK/rrfFuse split.
    val lexrCte: String =
      s"""lexr AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
         |  FROM s WHERE score > 0.0 QUALIFY lex_rank <= $HybridK)""".stripMargin
    val fusedCte: String =
      s"""fused AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |  COALESCE(l.lex_rank, 0) AS lex_rank,
         |  COALESCE(v.vec_rank, 0) AS vec_rank,
         |  COALESCE(1.0 / ($RrfK0 + l.lex_rank), 0.0)
         |    + COALESCE(1.0 / ($RrfK0 + v.vec_rank), 0.0) AS rrf
         |  FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id)""".stripMargin
    // Hybrid-fusion CTE chain ending in `fused(doc_id, lex_rank,
    // vec_rank, rrf)` — ONE builder behind the sim_hybrid_rrf and
    // pipeline_e2e_retrieve twins (the SQL mirror of hybridRrfFused).
    lazy val hybridFusedCtes: String =
      s"""${TrainingDataQueries.bm25Ctes},
         |$lexrCte,
         |e AS ($e), nn AS ($n),
         |hq AS (SELECT v AS qv, nrm AS qnrm FROM nn WHERE vec_id = $HybridQueryVec),
         |vp AS (SELECT c.vec_id, ${dotSql("hq.qv", "c.v")} / (hq.qnrm * c.nrm) AS cos
         |  FROM hq, nn c WHERE c.vec_id <> $HybridQueryVec),
         |vecr AS (SELECT vec_id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS vec_rank
         |  FROM vp QUALIFY vec_rank <= $HybridK),
         |$fusedCte""".stripMargin
    // SERVED hybrid twin: the vector arm is the IVF-PQ serving replay
    // (the shared ivfPqRankedCtes chain — identical to the
    // src_ivfpq_bucketed twin's selection) restricted to the single
    // retrieval query (nQueries=1 ⇔ query set {HybridQueryVec=0}), its
    // per-query rank capped at HybridK; lexr/fused are the SAME pieces
    // as the in-query twin — the arms differ, the fusion law cannot.
    lazy val hybridServedCtes: String =
      s"""${TrainingDataQueries.bm25Ctes},
         |$lexrCte,
         |e AS ($e), nn AS ($n),
         |${ivfPqRankedCtes(1)},
         |vecr AS (SELECT vec_id AS doc_id, rank AS vec_rank
         |  FROM ranked WHERE rank <= $HybridK),
         |$fusedCte""".stripMargin
    // Pool→MMR→metadata tail over any preceding `fused`/`nn` — the SQL
    // mirror of retrieveRankedFrom, ONE tail behind the in-query and
    // served retrieval chains.
    lazy val retrieveTailCtes: String =
      s"""pool AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS query_id,
         |    f.doc_id AS vec_id, f.rrf AS rel,
         |    list_transform(range(1, 65), ui -> nn.v[ui] / nn.nrm) AS u
         |  FROM fused f JOIN nn ON nn.vec_id = f.doc_id),
         |${mmrGreedyCtes(MmrK)},
         |rret AS (SELECT s.rank, s.vec_id AS doc_id, s.rel AS rrf,
         |    s.score AS mmr, d.source, d.lang,
         |    CAST(${graft.functions.TextQueries.sqlNTok} AS BIGINT) AS n_tokens
         |  FROM sel$MmrK s JOIN documents d ON d.doc_id = s.vec_id)""".stripMargin
    // E2E retrieval chain ending in `rret(rank, doc_id, rrf, mmr, source,
    // lang, n_tokens)` — the SQL mirror of retrieveRanked (in-query arms)
    // — and its served sibling (persisted-index arms), the mirror of
    // retrieveServedRanked, shared by the pipeline_e2e_retrieve_served
    // and pipeline_context_pack twins.
    lazy val retrieveCtes: String = s"$hybridFusedCtes,\n$retrieveTailCtes"
    lazy val retrieveServedCtes: String = s"$hybridServedCtes,\n$retrieveTailCtes"
    // Late-interaction shared pieces: chunk→vector→query front (ends in
    // `cn(doc_id, chunk_idx, v, nrm)` + `q(qi, qv, qnrm)`) and the
    // max→fixed-point-sum→rank tail over a preceding `mc(doc_id, qi, m)`
    // — the twins of chunkVecs / maxsimTail, shared by the exact and IVF
    // maxsim oracles so neither the embedder nor the scoring law can fork.
    lazy val maxsimBaseCtes: String =
      s"""${TrainingDataQueries.chunkCtes},
         |chtok AS (SELECT doc_id, CAST(u.ci AS BIGINT) AS chunk_idx,
         |  toks[u.st+1:u.st+${TrainingDataQueries.ChunkTokens}] AS ctk FROM e),
         |chh AS (SELECT doc_id, chunk_idx,
         |  ${DedupQueries.chunkTokenHashesSql} AS th FROM chtok),
         |hv AS (SELECT doc_id, chunk_idx, ${DedupQueries.hashEmbedSql(MaxsimDim)} AS v FROM chh),
         |cn AS (SELECT * FROM (SELECT doc_id, chunk_idx, v, ${normSql("v")} AS nrm FROM hv)
         |  WHERE nrm > 0.0),
         |q AS (SELECT chunk_idx AS qi, v AS qv, nrm AS qnrm FROM cn
         |  WHERE doc_id = $MaxsimQueryDoc)""".stripMargin
    lazy val maxsimTailSql: String =
      s"""fp AS (SELECT doc_id,
         |  CAST(SUM(CAST(floor(m * 1048576.0) AS BIGINT)) AS BIGINT) AS maxsim_fp
         |  FROM mc GROUP BY doc_id),
         |rk AS (SELECT doc_id, maxsim_fp,
         |  CAST(row_number() OVER (ORDER BY maxsim_fp DESC, doc_id) AS BIGINT) AS rank
         |  FROM fp)
         |SELECT rank, doc_id, maxsim_fp FROM rk
         |WHERE rank <= $MaxsimK ORDER BY rank""".stripMargin
    // Exact arm of late interaction, factored — shared by the
    // sim_maxsim_topk twin and the exact leg of the maxsim fidelity
    // report (one scoring law, no fork).
    lazy val maxsimExactOracleSql: String =
      s"""WITH $maxsimBaseCtes,
         |mc AS (SELECT c.doc_id, q.qi,
         |    max(${dotSql("q.qv", "c.v")} / (q.qnrm * c.nrm)) AS m
         |  FROM cn c, q WHERE c.doc_id <> $MaxsimQueryDoc
         |  GROUP BY c.doc_id, q.qi),
         |$maxsimTailSql""".stripMargin
    // IVF arm of late interaction, factored: chunks assigned to the
    // first-chunk-of-first-N quantizer (argmax cosine, ties to lowest
    // cen_id — the ivf family's rule), each query chunk probes its
    // top-MaxsimNProbe lists, pairs exist only inside probed lists; the
    // scoring tail is shared verbatim. ONE string behind sim_maxsim_ivf
    // (in-query index) and src_maxsim_bucketed (persisted index) — the
    // two must rank identically by construction.
    lazy val maxsimIvfOracleSql: String =
      s"""WITH $maxsimBaseCtes,
         |mcents AS (SELECT doc_id AS cen_id, v AS cv, nrm AS cnrm FROM cn
         |  WHERE chunk_idx = 0 AND doc_id < $NCentroids),
         |asg AS (SELECT doc_id, chunk_idx, v, nrm, cen_id FROM (
         |  SELECT c.doc_id, c.chunk_idx, c.v, c.nrm, mcents.cen_id,
         |    row_number() OVER (PARTITION BY c.doc_id, c.chunk_idx
         |      ORDER BY ${dotSql("c.v", "mcents.cv")} / (c.nrm * mcents.cnrm) DESC, mcents.cen_id) AS arn
         |  FROM cn c, mcents) WHERE arn = 1),
         |qp AS (SELECT qi, qv, qnrm, cen_id FROM (
         |  SELECT q.qi, q.qv, q.qnrm, mcents.cen_id,
         |    row_number() OVER (PARTITION BY q.qi
         |      ORDER BY ${dotSql("q.qv", "mcents.cv")} / (q.qnrm * mcents.cnrm) DESC, mcents.cen_id) AS prn
         |  FROM q, mcents) WHERE prn <= $MaxsimNProbe),
         |mc AS (SELECT a.doc_id, p.qi,
         |    max(${dotSql("p.qv", "a.v")} / (p.qnrm * a.nrm)) AS m
         |  FROM qp p JOIN asg a ON a.cen_id = p.cen_id
         |  WHERE a.doc_id <> $MaxsimQueryDoc
         |  GROUP BY a.doc_id, p.qi),
         |$maxsimTailSql""".stripMargin
    // Multi-query maxsim serve twin: the SAME assignment/probe/scoring
    // laws with every aggregation additionally keyed by the query doc and
    // the rank window partitioned per query — the src_maxsim_multi read.
    lazy val maxsimMultiOracleSql: String =
      s"""WITH $maxsimBaseCtes,
         |qm AS (SELECT doc_id AS qdoc, chunk_idx AS qi, v AS qv, nrm AS qnrm
         |  FROM cn WHERE doc_id < $MultiNQueries),
         |mcents AS (SELECT doc_id AS cen_id, v AS cv, nrm AS cnrm FROM cn
         |  WHERE chunk_idx = 0 AND doc_id < $NCentroids),
         |asg AS (SELECT doc_id, chunk_idx, v, nrm, cen_id FROM (
         |  SELECT c.doc_id, c.chunk_idx, c.v, c.nrm, mcents.cen_id,
         |    row_number() OVER (PARTITION BY c.doc_id, c.chunk_idx
         |      ORDER BY ${dotSql("c.v", "mcents.cv")} / (c.nrm * mcents.cnrm) DESC, mcents.cen_id) AS arn
         |  FROM cn c, mcents) WHERE arn = 1),
         |qp AS (SELECT qdoc, qi, qv, qnrm, cen_id FROM (
         |  SELECT q.qdoc, q.qi, q.qv, q.qnrm, mcents.cen_id,
         |    row_number() OVER (PARTITION BY q.qdoc, q.qi
         |      ORDER BY ${dotSql("q.qv", "mcents.cv")} / (q.qnrm * mcents.cnrm) DESC, mcents.cen_id) AS prn
         |  FROM qm q, mcents) WHERE prn <= $MaxsimNProbe),
         |mc AS (SELECT p.qdoc, a.doc_id, p.qi,
         |    max(${dotSql("p.qv", "a.v")} / (p.qnrm * a.nrm)) AS m
         |  FROM qp p JOIN asg a ON a.cen_id = p.cen_id
         |  WHERE a.doc_id <> p.qdoc
         |  GROUP BY p.qdoc, a.doc_id, p.qi),
         |fpm AS (SELECT qdoc, doc_id,
         |  CAST(SUM(CAST(floor(m * 1048576.0) AS BIGINT)) AS BIGINT) AS maxsim_fp
         |  FROM mc GROUP BY qdoc, doc_id),
         |rkm AS (SELECT qdoc, doc_id, maxsim_fp,
         |  CAST(row_number() OVER (PARTITION BY qdoc
         |    ORDER BY maxsim_fp DESC, doc_id) AS BIGINT) AS rank
         |  FROM fpm)
         |SELECT qdoc, rank, doc_id, maxsim_fp FROM rkm
         |WHERE rank <= $MaxsimK ORDER BY qdoc, rank""".stripMargin
    // Unrolled greedy-MMR CTE steps over a preceding
    // `pool(query_id, vec_id, rel, u)`: sel1 = per-query relevance argmax
    // scored λ·rel, then one step per pick — ms{t} = each unpicked
    // candidate's max cosine to the selection, pk{t} = the argmax of
    // λ·rel − (1−λ)·ms with the (score desc, vec_id) tie, sel{t}
    // accumulates. Identical operation order to MmrAgg.finish (dims fold
    // ascending from 0.0; first pick scores λ·rel). ONE builder behind
    // the sim_mmr_rerank and pipeline_e2e_retrieve twins.
    def mmrGreedyCtes(kSteps: Int): String = {
      val steps = (2 to kSteps).map { t =>
        val score = s"$MmrLambda * p.rel - ${1.0 - MmrLambda} * m.ms"
        // AS MATERIALIZED: each sel{t} is referenced 3× by step t+1 —
        // inlining would expand the chain 3^k-fold over the base scan
        s"""ms$t AS (SELECT p.query_id, p.vec_id, max(${dotSql("p.u", "s.u")}) AS ms
           |  FROM pool p JOIN sel${t - 1} s ON s.query_id = p.query_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} d
           |    WHERE d.query_id = p.query_id AND d.vec_id = p.vec_id)
           |  GROUP BY 1, 2),
           |pk$t AS (SELECT query_id, vec_id, rel, u, score, CAST($t AS BIGINT) AS rank FROM (
           |    SELECT m.query_id, m.vec_id, p.rel, p.u, $score AS score,
           |      row_number() OVER (PARTITION BY m.query_id
           |        ORDER BY $score DESC, m.vec_id) AS rn
           |    FROM ms$t m JOIN pool p ON p.query_id = m.query_id AND p.vec_id = m.vec_id)
           |  WHERE rn = 1),
           |sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM pk$t)""".stripMargin
      }.mkString(",\n")
      s"""sel1 AS MATERIALIZED (SELECT query_id, vec_id, rel, u, $MmrLambda * rel AS score, CAST(1 AS BIGINT) AS rank
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
         |        FROM pool) WHERE rn = 1),
         |$steps""".stripMargin
    }
    // Unrolled Lloyd-training CTE chain — the twin of
    // Similarity.lloydCentroids: same capped consistent-hash sample, same
    // stride init, same declared fold orders (dims ascending via
    // list_reduce; points in vec_id order via list(u ORDER BY vec_id)),
    // same lowest-index ties and empty-cluster-keeps-previous rule.
    // Iterations unroll as CTEs la{t}/lm{t}/lc{t}; centers end in
    // lc{iters} (cen_id, cv).
    def lloydCtes(k: Int, iters: Int, samplePct: Int, maxSample: Int): String = {
      val zero = "list_transform(range(1, 65), z0 -> CAST(0.0 AS DOUBLE))"
      val d2 = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        "list_transform(range(1, 65), di -> (s.u[di] - c.cv[di]) * (s.u[di] - c.cv[di])))," +
        " (acc, x) -> acc + x)"
      val iterCtes = (1 to iters).map { t =>
        s"""la$t AS (
           |  SELECT u, vec_id, cen_id FROM (
           |    SELECT s.u, s.vec_id, c.cen_id,
           |      row_number() OVER (PARTITION BY s.vec_id ORDER BY $d2, c.cen_id) AS arn
           |    FROM smp s, lc${t - 1} c) WHERE arn = 1),
           |lm$t AS (
           |  SELECT cen_id, cnt,
           |    list_reduce(list_prepend($zero, list(u ORDER BY vec_id)),
           |      (acc, x) -> list_transform(range(1, 65), mi -> acc[mi] + x[mi])) AS sv
           |  FROM (SELECT cen_id, vec_id, u,
           |        count(*) OVER (PARTITION BY cen_id) AS cnt FROM la$t)
           |  GROUP BY cen_id, cnt),
           |lc$t AS (
           |  SELECT p.cen_id,
           |    CASE WHEN m.cen_id IS NULL THEN p.cv
           |         ELSE list_transform(m.sv, sx -> sx / m.cnt) END AS cv
           |  FROM lc${t - 1} p LEFT JOIN lm$t m ON m.cen_id = p.cen_id)""".stripMargin
      }.mkString(",\n")
      s"""
         |smp AS (SELECT vec_id, list_transform(range(1, 65), ui -> v[ui] / nrm) AS u
         |  FROM nn WHERE (${DedupQueries.ph("CAST(vec_id AS VARCHAR)", "si")}) % 100 < $samplePct
         |  ORDER BY vec_id LIMIT $maxSample),
         |sidx AS (SELECT u, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM smp),
         |sn AS (SELECT count(*) AS n FROM smp),
         |lc0 AS (SELECT CAST(g.j AS BIGINT) AS cen_id, s.u AS cv
         |  FROM range(0, $k) g(j) JOIN sidx s ON s.rn = (g.j * (SELECT n FROM sn)) // $k),
         |""".stripMargin + iterCtes + ","
    }
    // PQ/ADC twin body, parameterized by the codeword CTE (`cbSql` must
    // yield (j, cv) with cv a full-dim composite codeword) and optional
    // training CTEs inserted after nn: encode per (vec_id, subspace) by
    // argmin squared L2 on the slice (ties to lowest codeword),
    // reconstruct, ADC-rank, exact-rescore survivors — identical tail for
    // the first-N and the trained-codebook tiers.
    def pqOracle(cbSql: String, preCtes: String = ""): String = {
      val dsub = 8 // 64-dim embeddings / PqM subspaces
      val sq = s"(nn.v[gs.s*$dsub + t] - cb.cv[gs.s*$dsub + t])"
      s"""WITH e AS ($e), nn AS ($n),$preCtes
         |cb AS ($cbSql),
         |cbl AS (SELECT list(cv ORDER BY j) AS cbs FROM cb),
         |sub AS (
         |  SELECT nn.vec_id, gs.s, cb.j,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, ${dsub + 1}), t -> $sq * $sq)),
         |      (acc, x) -> acc + x) AS dist
         |  FROM nn, cb, range(0, $PqM) gs(s)),
         |codes AS (
         |  SELECT vec_id, list(j ORDER BY s) AS code FROM (
         |    SELECT vec_id, s, j,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
         |    FROM sub) WHERE rn = 1 GROUP BY vec_id),
         |recon AS (
         |  SELECT c.vec_id, list_transform(range(1, ${PqM * dsub + 1}),
         |    i -> cbl.cbs[CAST(c.code[CAST((i-1)//$dsub AS BIGINT) + 1] AS BIGINT) + 1][i]) AS rv
         |  FROM codes c, cbl),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM nn WHERE vec_id < $NQueries),
         |coarse AS (
         |  SELECT q.query_id, n.vec_id,
         |    row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      ${dotSql("q.qv", "r.rv")} / (q.qnrm * n.nrm) DESC, n.vec_id) AS crn
         |  FROM q, recon r JOIN nn n ON r.vec_id = n.vec_id
         |  WHERE n.vec_id <> q.query_id),
         |cand AS (SELECT query_id, vec_id FROM coarse WHERE crn <= $NCandidates),
         |res AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    ${dotSql("qq.qv", "n.v")} / (qq.qnrm * n.nrm) AS cos
         |  FROM cand JOIN q qq ON cand.query_id = qq.query_id
         |            JOIN nn n ON cand.vec_id = n.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM res)
         |SELECT query_id, rank, vec_id, cos FROM ranked
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
    }
    // Subspace-grouped unrolled Lloyd chains — the twin of
    // Similarity.trainPqCodebookStride: one consistent-hash capped sample
    // (shared ranks across subspaces), per-subspace stride init, the same
    // declared fold orders / tie / empty-cluster rules as lloydCtes, all
    // m chains trained at once via GROUP BY subspace. Ends in cbw
    // (j, cv) with cv the flattened composite codeword.
    def pqLloydCtes(ks: Int, m: Int, iters: Int, samplePct: Int,
                    maxSample: Int): String = {
      val dsub = 64 / m
      val zero = s"list_transform(range(1, ${dsub + 1}), z0 -> CAST(0.0 AS DOUBLE))"
      val d2 = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, ${dsub + 1}), di -> (sp.u[di] - c.cv[di]) * (sp.u[di] - c.cv[di])))," +
        " (acc, x) -> acc + x)"
      val iterCtes = (1 to iters).map { t =>
        s"""pa$t AS (
           |  SELECT s, vec_id, u, j FROM (
           |    SELECT sp.s, sp.vec_id, sp.u, c.j,
           |      row_number() OVER (PARTITION BY sp.s, sp.vec_id ORDER BY $d2, c.j) AS arn
           |    FROM sp JOIN pc${t - 1} c ON c.s = sp.s) WHERE arn = 1),
           |pm$t AS (
           |  SELECT s, j, cnt,
           |    list_reduce(list_prepend($zero, list(u ORDER BY vec_id)),
           |      (acc, x) -> list_transform(range(1, ${dsub + 1}), mi -> acc[mi] + x[mi])) AS sv
           |  FROM (SELECT s, j, vec_id, u,
           |        count(*) OVER (PARTITION BY s, j) AS cnt FROM pa$t)
           |  GROUP BY s, j, cnt),
           |pc$t AS (
           |  SELECT p.s, p.j,
           |    CASE WHEN w.j IS NULL THEN p.cv
           |         ELSE list_transform(w.sv, sx -> sx / w.cnt) END AS cv
           |  FROM pc${t - 1} p LEFT JOIN pm$t w ON w.s = p.s AND w.j = p.j)""".stripMargin
      }.mkString(",\n")
      s"""
         |smp AS (SELECT vec_id, v FROM nn
         |  WHERE (${DedupQueries.ph("CAST(vec_id AS VARCHAR)", "si")}) % 100 < $samplePct
         |  ORDER BY vec_id LIMIT $maxSample),
         |sidx AS (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM smp),
         |sn AS (SELECT count(*) AS n FROM smp),
         |sp AS (SELECT s0.vec_id, s0.rn, gs.s,
         |    list_transform(range(1, ${dsub + 1}), t -> s0.v[gs.s*$dsub + t]) AS u
         |  FROM sidx s0, range(0, $m) gs(s)),
         |pc0 AS (SELECT sp.s, CAST(g.j AS BIGINT) AS j, sp.u AS cv
         |  FROM range(0, $ks) g(j) JOIN sp ON sp.rn = (g.j * (SELECT n FROM sn)) // $ks),
         |""".stripMargin + iterCtes + s""",
         |cbw AS (SELECT j, flatten(list(cv ORDER BY s)) AS cv FROM pc$iters GROUP BY j),""".stripMargin
    }
    def ivfOracle(centsSql: String, nQueries: Int = NQueries,
                  qPred: Option[String] = None, k: Int = K,
                  preCtes: String = "",
                  probeWhere: Option[String] = None): String =
      s"""${ivfCandCtes(centsSql, nQueries, qPred, preCtes, probeWhere)},
         |ranked AS (
         |  SELECT query_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM cand)
         |SELECT query_id, rank, vec_id, cos FROM ranked
         |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
    Map(
      "sim_topk_brute" ->
        s"""WITH e AS ($e), nn AS ($n),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM nn WHERE vec_id < $NQueries),
           |pairs AS (
           |  SELECT q.query_id, c.vec_id,
           |    ${dotSql("q.qv", "c.v")} / (q.qnrm * c.nrm) AS cos
           |  FROM q, nn c WHERE c.vec_id <> q.query_id),
           |ranked AS (
           |  SELECT query_id, vec_id, cos,
           |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
           |  FROM pairs)
           |SELECT query_id, rank, vec_id, cos FROM ranked
           |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
      "sim_topk_ivf" -> ivfOracle(
        s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids"),
      // hybrid RRF: the shared BM25 CTE chain (lexical arm) + brute
      // cosine of the single query vector (vector arm), both ranked
      // top-HybridK by (score desc, id), fused by 1/(k0+rank) sums in
      // the same lex-then-vec order as the Scala column expression.
      // Chain ends in `fused` — shared with the e2e-retrieve twin, the
      // same no-fork law as the Scala hybridRrfFused builder.
      "sim_hybrid_rrf" ->
        s"""WITH $hybridFusedCtes
           |SELECT doc_id, lex_rank, vec_rank, rrf FROM fused
           |ORDER BY rrf DESC, doc_id""".stripMargin,
      // late-interaction maxsim: the SHARED chunk chain (chunkCtes — the
      // pipeline_chunk_overlap unit verbatim), per-chunk hashEmbed (the
      // shared hashEmbedSql embedder), max cosine per (doc, query chunk)
      // (order-free), fixed-point floor at 2^20 before the integer sum
      // (the reproducible-sum trick), rank by (maxsim_fp DESC, doc_id).
      // maxsimBaseCtes (chunks→vectors→query) and maxsimTailSql
      // (max→fp→rank) are shared with the IVF arm below; the arms differ
      // only in WHICH (doc-chunk, query-chunk) pairs feed `mc`.
      "sim_maxsim_topk" -> maxsimExactOracleSql,
      // IVF arm: chunks assigned to the first-chunk-of-first-N quantizer
      // (argmax cosine, ties to lowest cen_id — the ivf family's rule),
      // each query chunk probes its top-MaxsimNProbe lists, pairs exist
      // only inside probed lists; the scoring tail is shared verbatim
      "sim_maxsim_ivf" -> maxsimIvfOracleSql,
      // persisted maxsim serving: the SAME replay verbatim — writing the
      // assigned chunk table bucketed and probing it must change the read
      // path, never the ranking; likewise the ingest-append and
      // compaction arms (base-slice centroids == full-corpus centroids by
      // the require-pinned window containment)
      "src_maxsim_bucketed" -> maxsimIvfOracleSql,
      "src_maxsim_append" -> maxsimIvfOracleSql,
      "src_maxsim_compact" -> maxsimIvfOracleSql,
      "src_maxsim_multi" -> maxsimMultiOracleSql,
      // late-interaction fidelity: BOTH registered maxsim chains as
      // nested derived tables (the sim_retrieve_fidelity pattern), rank
      // 0 = absent from that arm — the acceptance gate a maxsim serving
      // migration runs before cutting traffic to the chunk-IVF index
      "sim_maxsim_fidelity" ->
        s"""SELECT COALESCE(e.doc_id, v.doc_id) AS doc_id,
           |  COALESCE(e.rank, 0) AS rank_exact,
           |  COALESCE(v.rank, 0) AS rank_served
           |FROM ($maxsimExactOracleSql) e
           |FULL OUTER JOIN ($maxsimIvfOracleSql) v ON e.doc_id = v.doc_id
           |ORDER BY doc_id""".stripMargin,
      // e2e retrieval: the SAME fused chain, unit vectors joined back as
      // the single-group MMR pool (rel = rrf), the SAME unrolled greedy
      // steps as the sim_mmr_rerank twin, doc metadata attached last
      // (retrieveCtes ends in rret — shared with the context-pack twin)
      "pipeline_e2e_retrieve" ->
        s"""WITH $retrieveCtes
           |SELECT rank, doc_id, rrf, mmr, source, lang FROM rret
           |ORDER BY rank""".stripMargin,
      // served e2e retrieval: the SAME tail over the served fusion chain
      // (IVF-PQ replay vector arm + the shared lexr/fused pieces) — the
      // persisted-artifact arms change WHICH docs rank, never how the
      // fusion/greedy/metadata tail treats them
      "pipeline_e2e_retrieve_served" ->
        s"""WITH $retrieveServedCtes
           |SELECT rank, doc_id, rrf, mmr, source, lang FROM rret
           |ORDER BY rank""".stripMargin,
      // multi-query served retrieval: the shared IVF-PQ replay at 4
      // queries (rank <= MmrN pools), unit vectors joined back, the
      // SHARED per-query greedy-MMR steps, emitted per (query, rank)
      "pipeline_retrieve_multi" ->
        s"""WITH e AS ($e), nn AS ($n),
           |${ivfPqRankedCtes(MultiNQueries)},
           |pool AS MATERIALIZED (SELECT r.query_id, r.vec_id, r.cos AS rel,
           |    list_transform(range(1, 65), ui -> nn.v[ui] / nn.nrm) AS u
           |  FROM ranked r JOIN nn ON nn.vec_id = r.vec_id
           |  WHERE r.rank <= $MmrN),
           |${mmrGreedyCtes(MmrK)}
           |SELECT query_id, rank, vec_id AS doc_id, rel AS cos, score AS mmr
           |FROM sel$MmrK ORDER BY query_id, rank""".stripMargin,
      // serving fidelity: both registered chains as derived tables (their
      // CTE chains share names, so each nests in its own scope), rank 0 =
      // absent from that arm
      "sim_retrieve_fidelity" ->
        s"""SELECT COALESCE(e.doc_id, v.doc_id) AS doc_id,
           |  COALESCE(e.rank, 0) AS rank_exact,
           |  COALESCE(v.rank, 0) AS rank_served
           |FROM (WITH $retrieveCtes SELECT rank, doc_id FROM rret) e
           |FULL OUTER JOIN (WITH $retrieveServedCtes SELECT rank, doc_id FROM rret) v
           |ON e.doc_id = v.doc_id
           |ORDER BY doc_id""".stripMargin,
      // context packing: the SERVED rret chain (the pack stage sits
      // behind the production read path), token counts from the shared
      // ntok expression, prefix packing by running window sum
      "pipeline_context_pack" ->
        s"""WITH $retrieveServedCtes,
           |pk AS (SELECT rank, doc_id, n_tokens, source, lang,
           |    sum(n_tokens) OVER (ORDER BY rank) AS cum_tokens FROM rret)
           |SELECT rank, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           |  source, lang
           |FROM pk WHERE cum_tokens <= $ContextBudget ORDER BY rank""".stripMargin,
      // SRP-LSH tier: same sig/band formulation as the dedup_srp_pairs
      // twin (shared srpSigSqlExpr builder — the planes cannot fork),
      // band-match candidate gate, then the standard ranked top-k tail
      "sim_topk_srp" ->
        s"""WITH e AS ($e), nn AS ($n),
           |s AS (SELECT vec_id, v, nrm, CAST(${DedupQueries.srpSigSqlExpr} AS BIGINT) AS sig FROM nn),
           |sb AS (SELECT vec_id, v, nrm, list_transform(range(0, 4), bi ->
           |  CAST(floor(CAST(sig AS DOUBLE)/power(2, bi*4)) AS BIGINT) % 16) AS bands FROM s),
           |q AS (SELECT vec_id AS query_id, v AS qv, qnrm, qbands FROM
           |  (SELECT vec_id, v, nrm AS qnrm, bands AS qbands FROM sb) WHERE vec_id < $NQueries),
           |cand AS (SELECT q.query_id, c.vec_id,
           |    ${dotSql("q.qv", "c.v")} / (q.qnrm * c.nrm) AS cos
           |  FROM q JOIN sb c ON c.vec_id <> q.query_id
           |    AND len(list_filter(range(1, 5), bi -> c.bands[bi] = q.qbands[bi])) > 0),
           |ranked AS (SELECT query_id, vec_id, cos,
           |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
           |  FROM cand)
           |SELECT query_id, rank, vec_id, cos FROM ranked
           |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
      // radius variant: tau gate over the SAME probed-candidate set
      "sim_range_search" ->
        s"""${ivfCandCtes(
               s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids")}
           |SELECT query_id, vec_id, cos FROM cand
           |WHERE cos >= $TauRange ORDER BY query_id, vec_id""".stripMargin,
      // mutual-kNN clustering: knn cand prefix -> rank -> tau -> mutual
      // -> recursive reachability, the generic CC twin
      "sim_cluster_knn" -> {
        val cands = ivfCandCtes(
          s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids",
          qPred = Some("TRUE")).replaceFirst("WITH ", "WITH RECURSIVE ")
        s"""$cands,
           |rk AS (SELECT query_id, vec_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
           |  FROM cand),
           |e0 AS (SELECT query_id AS a, vec_id AS b FROM rk
           |  WHERE rank <= $KGraph AND cos >= $KnnClusterTau),
           |me AS (SELECT e0.a, e0.b FROM e0 JOIN e0 x ON e0.a = x.b AND e0.b = x.a),
           |edges AS (SELECT a, b FROM me UNION SELECT b, a FROM me),
           |reach AS (SELECT a AS s, b AS d FROM edges
           |  UNION SELECT r.s, e.b AS d FROM reach r JOIN edges e ON r.d = e.a)
           |SELECT s AS id, least(s, min(d)) AS cluster_id
           |FROM reach GROUP BY s ORDER BY id""".stripMargin
      },
      // the k-NN graph: every vector is a query (no qPred restriction)
      "sim_knn_graph" -> ivfOracle(
        s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids",
        qPred = Some("TRUE"), k = KGraph),
      // incremental maintenance is EXACTLY equivalent to the full rebuild
      // (selection decomposes over the candidate union under one shared
      // quantizer), so its oracle IS sim_knn_graph's
      "sim_knn_graph_incremental" -> ivfOracle(
        s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids",
        qPred = Some("TRUE"), k = KGraph),
      // margin mining: label-carrying nn, one shared quantizer, the two
      // directional kNN chains, rank-ordered neighborhood-mean folds
      // (list_reduce == the engine's sort_array+aggregate), margin, top-1
      "sim_margin_pairs" -> {
        val el =
          s"""SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings""".stripMargin
        val nlabel =
          s"SELECT * FROM (SELECT vec_id, label, v, ${normSql("v")} AS nrm FROM el) WHERE nrm > 0.0"
        def dknn(name: String, qp: String, cp: String) =
          s"""${name}p AS (
             |  SELECT query_id, qv, qnrm, cen_id FROM (
             |    SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qnrm, cents.cen_id,
             |      row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY ${dotSql("q.v", "cents.cv")} / (q.nrm * cents.cnrm) DESC, cents.cen_id) AS prn
             |    FROM nl q, cents WHERE $qp) WHERE prn <= $NProbe),
             |${name}k AS (
             |  SELECT query_id, vec_id, cos, rnk FROM (
             |    SELECT query_id, vec_id, cos,
             |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
             |    FROM (SELECT p.query_id, a.vec_id,
             |            ${dotSql("p.qv", "a.v")} / (p.qnrm * a.nrm) AS cos
             |          FROM ${name}p p JOIN asg a ON p.cen_id = a.cen_id
             |          WHERE a.vec_id <> p.query_id AND $cp))
             |  WHERE rnk <= $KGraph),
             |${name}av AS (SELECT query_id,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(cos ORDER BY rnk)),
             |      (a, x) -> a + x) / count(*) AS av
             |  FROM ${name}k GROUP BY query_id)""".stripMargin
        s"""WITH el AS ($el), nl AS ($nlabel),
           |cents AS (SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nl WHERE vec_id < $NCentroids),
           |asg AS (SELECT vec_id, label, cen_id, v, nrm FROM (
           |  SELECT nl.vec_id, nl.label, cents.cen_id, nl.v, nl.nrm,
           |    row_number() OVER (PARTITION BY nl.vec_id
           |      ORDER BY ${dotSql("nl.v", "cents.cv")} / (nl.nrm * cents.cnrm) DESC, cents.cen_id) AS crn
           |  FROM nl, cents) WHERE crn = 1),
           |${dknn("fwd", "q.label % 2 = 0", "a.label % 2 <> 0")},
           |${dknn("bwd", "q.label % 2 <> 0", "a.label % 2 = 0")},
           |m AS (SELECT f.query_id, f.vec_id, f.cos,
           |    f.cos / ((af.av + ab.av) / 2.0) AS margin
           |  FROM fwdk f JOIN fwdav af ON af.query_id = f.query_id
           |    JOIN bwdav ab ON ab.query_id = f.vec_id),
           |t AS (SELECT query_id, vec_id, cos, margin,
           |    row_number() OVER (PARTITION BY query_id ORDER BY margin DESC, vec_id) AS trn
           |  FROM m)
           |SELECT query_id, vec_id, cos, margin FROM t WHERE trn = 1
           |ORDER BY query_id""".stripMargin
      },
      // the distributed radius join: same cand prefix, join-side qPred
      "sim_range_join" ->
        s"""${ivfCandCtes(
               s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids",
               qPred = Some("vec_id % 5 = 2"))}
           |SELECT query_id, vec_id, cos FROM cand
           |WHERE cos >= $TauRange ORDER BY query_id, vec_id""".stripMargin,
      // identical IVF semantics, distributed-join execution: only the
      // query-side predicate differs
      "sim_join_ivf" -> ivfOracle(
        s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids",
        qPred = Some("vec_id % 5 = 2")),
      // salting is exact: same twin, verbatim
      "sim_join_ivf_salted" -> ivfOracle(
        s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids",
        qPred = Some("vec_id % 5 = 2")),
      // the filtered tier threads the label attribute through nn and cuts
      // candidates inside the probed lists — otherwise the unfiltered twin
      "sim_topk_filtered" ->
        s"""WITH e AS (SELECT vec_id, label,
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |nn AS (SELECT * FROM
           |  (SELECT vec_id, label, v, ${normSql("v")} AS nrm FROM e) WHERE nrm > 0.0),
           |cents AS (SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn
           |  WHERE vec_id < $NCentroids),
           |assigned AS (
           |  SELECT vec_id, label, cen_id, v, nrm FROM (
           |    SELECT nn.vec_id, nn.label, cents.cen_id, nn.v, nn.nrm,
           |      row_number() OVER (PARTITION BY nn.vec_id
           |        ORDER BY ${dotSql("nn.v", "cents.cv")} / (nn.nrm * cents.cnrm) DESC, cents.cen_id) AS crn
           |    FROM nn, cents) WHERE crn = 1),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM nn
           |  WHERE vec_id < $NQueries),
           |probes AS (
           |  SELECT query_id, qv, qnrm, cen_id FROM (
           |    SELECT q.query_id, q.qv, q.qnrm, cents.cen_id,
           |      row_number() OVER (PARTITION BY q.query_id
           |        ORDER BY ${dotSql("q.qv", "cents.cv")} / (q.qnrm * cents.cnrm) DESC, cents.cen_id) AS prn
           |    FROM q, cents) WHERE prn <= $NProbe),
           |cand AS (
           |  SELECT p.query_id, a.vec_id,
           |    ${dotSql("p.qv", "a.v")} / (p.qnrm * a.nrm) AS cos
           |  FROM probes p JOIN assigned a ON p.cen_id = a.cen_id
           |  WHERE a.vec_id <> p.query_id AND a.label = 3),
           |ranked AS (
           |  SELECT query_id, vec_id, cos,
           |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
           |  FROM cand)
           |SELECT query_id, rank, vec_id, cos FROM ranked
           |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
      // the trained-quantizer tier, training REPLAYED in SQL: the Lloyd
      // CTE chain computes the same centers bit-exactly, then the shared
      // probe machinery takes over — the whole tier is hash-exact
      "sim_topk_ivf_lloyd" -> ivfOracle(
        s"SELECT cen_id, cv, ${normSql("cv")} AS cnrm FROM lc$LloydIters",
        preCtes = lloydCtes(NCentroids, LloydIters, 60, LloydMaxSample)),
      // domain discovery: the SAME Lloyd chain trains the centers, then
      // full-corpus nearest-center assignment and the per-domain report —
      // training, assignment, and shares all replayed exactly
      "pipeline_domain_discover" ->
        s"""WITH e AS ($e), nn AS ($n),${lloydCtes(NCentroids, LloydIters, 60, LloydMaxSample)}
           |cents AS (SELECT cen_id, cv, ${normSql("cv")} AS cnrm FROM lc$LloydIters),
           |assigned AS (
           |  SELECT vec_id, cen_id FROM (
           |    SELECT nn.vec_id, cents.cen_id,
           |      row_number() OVER (PARTITION BY nn.vec_id
           |        ORDER BY ${dotSql("nn.v", "cents.cv")} / (nn.nrm * cents.cnrm) DESC, cents.cen_id) AS crn
           |    FROM nn, cents) WHERE crn = 1),
           |bysrc AS (SELECT a.cen_id, d.source, count(*) AS n_src
           |  FROM assigned a JOIN documents d ON d.doc_id = a.vec_id GROUP BY 1, 2),
           |tot AS (SELECT sum(n_src) AS t FROM bysrc),
           |agg AS (SELECT cen_id, sum(n_src) AS n_docs,
           |  min(struct_pack(m := -n_src, s := source)) AS ms FROM bysrc GROUP BY cen_id)
           |SELECT cen_id AS cluster_id, CAST(n_docs AS BIGINT) AS n_docs,
           |  CAST(n_docs * 1000000 // t AS BIGINT) AS share_ppm,
           |  ms.s AS top_source,
           |  CAST((-(ms.m)) * 1000000 // n_docs AS BIGINT) AS top_source_ppm
           |FROM agg, tot ORDER BY cluster_id""".stripMargin,
      // MMR: brute relevance pool (top-MmrN per query over unit vectors),
      // then the shared unrolled greedy ([[mmrGreedyCtes]], also behind
      // the e2e-retrieve twin — the selection law cannot fork)
      "sim_mmr_rerank" ->
        s"""WITH e AS ($e), nn AS ($n),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM nn WHERE vec_id < $NQueries),
           |sc AS (SELECT q.query_id, c.vec_id,
           |    ${dotSql("q.qv", "c.v")} / (q.qnrm * c.nrm) AS rel,
           |    list_transform(range(1, 65), ui -> c.v[ui] / c.nrm) AS u
           |  FROM q, nn c WHERE c.vec_id <> q.query_id),
           |pool AS MATERIALIZED (SELECT query_id, vec_id, rel, u FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
           |    FROM sc) WHERE rn <= $MmrN),
           |${mmrGreedyCtes(MmrK)}
           |SELECT query_id, rank, vec_id, rel, score FROM sel$MmrK
           |ORDER BY query_id, rank""".stripMargin,
      // label propagation: the knn-graph cand prefix -> KGraph edges ->
      // two unrolled modal-vote rounds, min(struct_pack(-cnt, label))
      // replaying lpRound's pinned tie exactly
      "sim_label_prop" -> {
        def voteRound(t: Int, prev: String) =
          s"""v$t AS (SELECT g.node, p.l AS nl, count(*) AS cnt
             |  FROM g JOIN $prev p ON p.node = g.nbr GROUP BY 1, 2),
             |m$t AS (SELECT node, min(struct_pack(m := -cnt, w := nl)) AS ms
             |  FROM v$t GROUP BY node),
             |lp$t AS (SELECT a.node, CAST(COALESCE(ms.w, a.l) AS BIGINT) AS l
             |  FROM $prev a LEFT JOIN m$t ON m$t.node = a.node)""".stripMargin
        s"""${ivfCandCtes(
               s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids",
               qPred = Some("TRUE"))},
           |g AS (SELECT query_id AS node, vec_id AS nbr FROM (
           |    SELECT query_id, vec_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
           |    FROM cand) WHERE rank <= $KGraph),
           |lp0 AS (SELECT nn.vec_id AS node, CAST(emb.label AS BIGINT) AS l
           |  FROM nn JOIN embeddings emb ON emb.vec_id = nn.vec_id),
           |${voteRound(1, "lp0")},
           |${voteRound(2, "lp1")}
           |SELECT a.node AS vec_id, a.l AS label_0, b.l AS label_1, c.l AS label_2
           |FROM lp0 a JOIN lp1 b ON b.node = a.node JOIN lp2 c ON c.node = a.node
           |ORDER BY vec_id""".stripMargin
      },
      // adaptive-radius probing: the SAME cand chain, the probe rule
      // swapped to cap-then-radius — prn <= NProbeMax AND within
      // ProbeDelta of the per-query best (the kernel thresholds against
      // sc(0), the global max even under the cap, so cap-order is moot)
      "sim_topk_ivf_adaptive" -> ivfOracle(
        s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids",
        qPred = Some(
          s"vec_id >= $NCentroids AND vec_id < ${NCentroids + NQueries}"),
        probeWhere = Some(
          s"prn <= $NProbeMax AND pcos >= best - $ProbeDelta")),
      // same probe machinery, stride-selected reindexed centers
      "sim_topk_ivf_fixed" -> ivfOracle(
        s"""SELECT (vec_id - 3) // 7 AS cen_id, v AS cv, nrm AS cnrm FROM nn
           | WHERE vec_id >= 3 AND vec_id < ${3 + 7 * NCentroids} AND (vec_id - 3) % 7 = 0""".stripMargin),
      // bucketed-persist roundtrip is row-identical to the in-flight IVF
      // at the same (serving-regime) query count
      "src_ivf_bucketed" -> ivfOracle(
        s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids",
        nQueries = NQueriesServe),
      // append-maintained lists ≡ full rebuild: base-trained centroids are
      // the whole-corpus first-N (ids 0..15 < the 400-row base split), and
      // ingest-time assignment uses them verbatim — so the oracle is
      // EXACTLY the one src_ivf_bucketed uses
      "src_ivf_append" -> ivfOracle(
        s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids",
        nQueries = NQueriesServe),
      // compaction is layout- and content-preserving, so its probe answers
      // the SAME oracle as the append lifecycle it compacts
      "src_ivf_compact" -> ivfOracle(
        s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids",
        nQueries = NQueriesServe),
      // int8 quantization is deterministic arithmetic — exact twin, same
      // operation order as Similarity.quantize/quantizedTopK
      "sim_topk_quantized" -> {
        val idot = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(range(1, len(c.qv)+1), " +
          "di -> CAST(c.qv[di] AS BIGINT) * CAST(q.qqv[di] AS BIGINT))), (acc, x) -> acc + x)"
        s"""WITH e AS ($e), nn AS ($n),
           |qm AS (SELECT vec_id, v, nrm, list_max(list_transform(v, x -> abs(x))) AS qm FROM nn),
           |qs AS (SELECT vec_id, v, nrm,
           |  CASE WHEN qm = 0 THEN 0.0 ELSE 127.0 / qm END AS qscale FROM qm),
           |qq AS (SELECT vec_id, v, nrm, qscale,
           |  list_transform(v, x -> CAST(round(x * qscale) AS TINYINT)) AS qv FROM qs),
           |q AS (SELECT vec_id AS query_id, qv AS qqv, qscale AS qqscale,
           |  nrm AS qnrm, v AS query_v FROM qq WHERE vec_id < $NQueries),
           |coarse AS (
           |  SELECT q.query_id, q.query_v, q.qnrm, c.vec_id,
           |    row_number() OVER (PARTITION BY q.query_id ORDER BY
           |      (CAST($idot AS DOUBLE) / (c.qscale * q.qqscale)) / (c.nrm * q.qnrm) DESC,
           |      c.vec_id) AS crn
           |  FROM qq c, q WHERE c.vec_id <> q.query_id),
           |cand AS (SELECT query_id, query_v, qnrm, vec_id FROM coarse WHERE crn <= $NCandidates),
           |res AS (
           |  SELECT cand.query_id, cand.vec_id,
           |    ${dotSql("cand.query_v", "nn.v")} / (cand.qnrm * nn.nrm) AS cos
           |  FROM cand JOIN nn ON cand.vec_id = nn.vec_id),
           |ranked AS (
           |  SELECT query_id, vec_id, cos,
           |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
           |  FROM res)
           |SELECT query_id, rank, vec_id, cos FROM ranked
           |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
      },
      // sim_topk_lsh: Spark-ML internal hashing — rows-only driver check.
      // PQ/ADC twin: encode per (vec_id, subspace) by argmin squared L2 on
      // the slice (ties to lowest codeword), reconstruct, rank by
      // dot(query, reconstruction)/(qnrm*nrm), exact-rescore survivors.
      // Same sequential-sum arithmetic as the kernels — hash-exact.
      // Parameterized by the codeword CTE (`cbSql` must yield (j, cv)):
      // first-N vectors for sim_topk_pq, the stride-Lloyd-trained
      // composite codewords for sim_topk_pq_lloyd.
      "sim_topk_pq" -> pqOracle(
        s"""SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, v AS cv
           |  FROM (SELECT vec_id, v FROM nn ORDER BY vec_id LIMIT $PqCodewords)""".stripMargin),
      // trained-codebook twin: training REPLAYED in SQL — all PqM
      // per-subspace Lloyd chains unroll as one subspace-grouped CTE
      // sequence (same sample ranks, stride init, in-order folds, tie
      // and empty-cluster rules as trainPqCodebookStride), composite
      // codewords = flatten over subspace order; then the identical
      // encode/ADC/rescore tail
      "sim_topk_pq_lloyd" -> pqOracle("SELECT j, cv FROM cbw",
        preCtes = pqLloydCtes(PqCodewords, PqM, LloydIters, 60, LloydMaxSample)),
      // IVF-PQ twin: IVF assignment + probe selection from the ivf twin,
      // PQ encode + reconstruction from the pq twin, ADC coarse ranking
      // restricted to probed lists, exact rescore. Parameterized by query
      // count: the in-flight tier compares at NQueries, the persisted
      // serving roundtrip (src_ivfpq_bucketed — row-identical by
      // construction) at the serving regime's NQueriesServe.
      "sim_topk_ivfpq" -> ivfPqOracle(NQueries),
      "sim_join_pq" -> ivfPqOracleWhere("vec_id % 5 = 2"),
      "sim_join_pq_salted" -> ivfPqOracleWhere("vec_id % 5 = 2"),
      "src_ivfpq_bucketed" -> ivfPqOracle(NQueriesServe),
      // append arm: base ∪ increment must answer exactly like the one-shot
      // build — same oracle verbatim (quantizers are base-trained ==
      // full-corpus first-N by construction)
      "src_ivfpq_append" -> ivfPqOracle(NQueriesServe),
      "sim_recall_report" ->
        s"""${ivfCandCtes(s"SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < $NCentroids")},
           |ivfr AS (SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
           |  FROM cand) WHERE rk <= $K),
           |bc AS (SELECT q.query_id, nn.vec_id,
           |  ${dotSql("q.qv", "nn.v")} / (q.qnrm * nn.nrm) AS cos
           |  FROM q CROSS JOIN nn WHERE nn.vec_id <> q.query_id),
           |br AS (SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
           |  FROM bc) WHERE rk <= $K)
           |SELECT br.query_id, CAST(count(*) AS BIGINT) AS k,
           |  CAST(SUM(CASE WHEN ivfr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
           |FROM br LEFT JOIN ivfr
           |  ON br.query_id = ivfr.query_id AND br.vec_id = ivfr.vec_id
           |GROUP BY br.query_id ORDER BY br.query_id""".stripMargin,
      "sim_ivf_health" ->
        s"""WITH e AS ($e), nn AS ($n),
           |cents AS (SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn
           |  ORDER BY vec_id LIMIT $NCentroids),
           |assigned AS (
           |  SELECT vec_id, cen_id, v, nrm FROM (
           |    SELECT nn.vec_id, cents.cen_id, nn.v, nn.nrm,
           |      row_number() OVER (PARTITION BY nn.vec_id
           |        ORDER BY ${dotSql("nn.v", "cents.cv")} / (nn.nrm * cents.cnrm) DESC, cents.cen_id) AS crn
           |    FROM nn, cents) WHERE crn = 1),
           |j AS (SELECT a.cen_id, a.vec_id,
           |  CAST(floor(${dotSql("a.v", "cents.cv")} / (a.nrm * cents.cnrm)
           |    * 1048576.0) AS BIGINT) AS cu
           |  FROM assigned a JOIN cents USING (cen_id))
           |SELECT cen_id, count(*) AS n_members,
           |  CAST(SUM(cu) AS BIGINT) AS sum_cos_units,
           |  min(cu) AS min_cos_units,
           |  min(vec_id) AS first_member, max(vec_id) AS last_member
           |FROM j GROUP BY cen_id ORDER BY cen_id""".stripMargin,
      "sim_pca_power" ->
        s"""WITH $pcaCtes
           |SELECT CAST(s$PcaIters.j - 1 AS BIGINT) AS dim,
           |  v$PcaIters.v[s$PcaIters.j] AS v, s$PcaIters.su AS z_units
           |FROM s$PcaIters CROSS JOIN v$PcaIters
           |ORDER BY dim""".stripMargin,
      "sim_whiten_topdrop" ->
        s"""WITH $pcaCtes,
           |w AS (SELECT vec_id, embedding, v,
           |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    list_transform(range(1, 65), j -> CAST(embedding[j] AS DOUBLE) * v[j])),
           |    (a, x) -> a + x) AS y
           |  FROM embeddings CROSS JOIN v$PcaIters)
           |SELECT vec_id, y,
           |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    list_transform(range(1, 65),
           |      j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))),
           |    (a, x) -> a + x) AS norm2_before,
           |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    list_transform(range(1, 65),
           |      j -> (CAST(embedding[j] AS DOUBLE) - y * v[j]) *
           |           (CAST(embedding[j] AS DOUBLE) - y * v[j]))),
           |    (a, x) -> a + x) AS norm2_after
           |FROM w ORDER BY vec_id""".stripMargin,
      "sim_dim_stats" ->
        s"""WITH u AS (SELECT x.d AS dim,
           |  CAST(floor(CAST(x.v AS DOUBLE) * 1048576.0) AS BIGINT) AS u FROM (
           |  SELECT unnest(list_transform(range(1, len(embedding) + 1),
           |    i -> {'d': CAST(i - 1 AS BIGINT), 'v': embedding[i]})) AS x
           |  FROM embeddings))
           |SELECT dim, count(*) AS n,
           |  CAST(SUM(CAST(u AS DECIMAL(38,0))) AS VARCHAR) AS sum_u,
           |  CAST(SUM(CAST(u * u AS DECIMAL(38,0))) AS VARCHAR) AS sum_u2,
           |  min(u) AS min_u, max(u) AS max_u
           |FROM u GROUP BY dim ORDER BY dim""".stripMargin
    )
  }

  private def ivfPqOracle(nQueries: Int): String =
    ivfPqOracleWhere(s"vec_id < $nQueries")

  /** The IVF-PQ replay at an arbitrary query predicate — `sim_join_pq`'s
    * bulk query relation (`vec_id % 5 = 2`) shares the chain verbatim with
    * the serving twins' `vec_id < n`. */
  private def ivfPqOracleWhere(qPredSql: String): String = {
    val e =
      s"""SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings""".stripMargin
    val n = s"SELECT * FROM (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e) WHERE nrm > 0.0"
    s"""WITH e AS ($e), nn AS ($n),
       |${ivfPqRankedCtesWhere(qPredSql)}
       |SELECT query_id, rank, vec_id, cos FROM ranked
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-PQ replay chain over an in-scope `nn(vec_id, v, nrm)`: first-N
    * quantizers, per-subspace argmin encode, ADC coarse rank bucket-
    * restricted to the probed lists, exact rescore of the top-
    * [[NCandidates]] — ending in `ranked(query_id, vec_id, cos, rank)`.
    * ONE chain behind the `sim_topk_ivfpq` / `src_ivfpq_bucketed` twins
    * and the SERVED retrieval twin's vector arm, so the index replay
    * cannot fork from the serving read it mirrors. */
  private def ivfPqRankedCtes(nQueries: Int): String =
    ivfPqRankedCtesWhere(s"vec_id < $nQueries")

  private def ivfPqRankedCtesWhere(qPredSql: String): String = {
    val dsub = 8
    val sq = s"(nn.v[gs.s*$dsub + t] - cb.cv[gs.s*$dsub + t])"
    // quantizers = lowest-N SURVIVING ids (ORDER BY vec_id LIMIT n), the
    // twin of Similarity.lowestIdCentroids: a zero-norm vector among the
    // first ids shifts the prefix instead of collapsing it; the codebook
    // renumbers j densely 0..ks-1 because recon indexes positionally
    s"""cents AS (SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn ORDER BY vec_id LIMIT $NCentroids),
           |assigned AS (
           |  SELECT vec_id, cen_id FROM (
           |    SELECT nn.vec_id, cents.cen_id,
           |      row_number() OVER (PARTITION BY nn.vec_id
           |        ORDER BY ${dotSql("nn.v", "cents.cv")} / (nn.nrm * cents.cnrm) DESC, cents.cen_id) AS crn
           |    FROM nn, cents) WHERE crn = 1),
           |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, v AS cv
           |  FROM (SELECT vec_id, v FROM nn ORDER BY vec_id LIMIT $PqCodewords)),
           |cbl AS (SELECT list(cv ORDER BY j) AS cbs FROM cb),
           |sub AS (
           |  SELECT nn.vec_id, gs.s, cb.j,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(range(1, ${dsub + 1}), t -> $sq * $sq)),
           |      (acc, x) -> acc + x) AS dist
           |  FROM nn, cb, range(0, $PqM) gs(s)),
           |codes AS (
           |  SELECT vec_id, list(j ORDER BY s) AS code FROM (
           |    SELECT vec_id, s, j,
           |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
           |    FROM sub) WHERE rn = 1 GROUP BY vec_id),
           |recon AS (
           |  SELECT c.vec_id, list_transform(range(1, ${PqM * dsub + 1}),
           |    i -> cbl.cbs[CAST(c.code[CAST((i-1)//$dsub AS BIGINT) + 1] AS BIGINT) + 1][i]) AS rv
           |  FROM codes c, cbl),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM nn WHERE $qPredSql),
           |probes AS (
           |  SELECT query_id, qv, qnrm, cen_id FROM (
           |    SELECT q.query_id, q.qv, q.qnrm, cents.cen_id,
           |      row_number() OVER (PARTITION BY q.query_id
           |        ORDER BY ${dotSql("q.qv", "cents.cv")} / (q.qnrm * cents.cnrm) DESC, cents.cen_id) AS prn
           |    FROM q, cents) WHERE prn <= $NProbe),
           |coarse AS (
           |  SELECT p.query_id, a.vec_id,
           |    row_number() OVER (PARTITION BY p.query_id ORDER BY
           |      ${dotSql("p.qv", "r.rv")} / (p.qnrm * n.nrm) DESC, a.vec_id) AS crn2
           |  FROM probes p
           |  JOIN assigned a ON p.cen_id = a.cen_id
           |  JOIN recon r ON a.vec_id = r.vec_id
           |  JOIN nn n ON a.vec_id = n.vec_id
           |  WHERE a.vec_id <> p.query_id),
           |cand AS (SELECT query_id, vec_id FROM coarse WHERE crn2 <= $NCandidates),
           |res AS (
           |  SELECT cand.query_id, cand.vec_id,
           |    ${dotSql("qq.qv", "n.v")} / (qq.qnrm * n.nrm) AS cos
           |  FROM cand JOIN q qq ON cand.query_id = qq.query_id
           |            JOIN nn n ON cand.vec_id = n.vec_id),
           |ranked AS (
           |  SELECT query_id, vec_id, cos,
           |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
           |  FROM res)""".stripMargin
  }
}
