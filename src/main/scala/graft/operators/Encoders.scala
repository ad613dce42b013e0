package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** Batch embedding generation (ref: embeddings/encoder.py).
  *
  * Verified queries emit the *exploded relational form* — (doc_id,
  * bucket/term, weight) — rather than assembled arrays: it is the same
  * information, it hash-compares cleanly, and at scale it is the shape
  * downstream joins want. `assembleVector` turns it back into a dense
  * `Array[Double]` column when needed.
  *
  * Scale: one explode+groupBy shuffle per encoder (map-side combined),
  * window re-normalization shuffles once on doc_id, vocabularies are
  * broadcast. No driver-side state — unlike the ref's fitted
  * TfidfVectorizer, the vocabulary is itself a (small) DataFrame.
  */
object Encoders {
  val Dim = 64

  /** Optional corpus cap (doc_id < cap) for the by-size experiment
    * sweep; None leaves the plan untouched. The filter lands on the
    * parquet scan (PushedFilters), so a capped leg reads only its
    * prefix. */
  private def capped(d: DataFrame, maxDoc: Option[Long]): DataFrame =
    maxDoc.fold(d)(c => d.filter(col("doc_id") < c))

  /** (doc_id, bucket, cnt): integer hashing-TF bucket counts — the
    * sparse building block shared by [[hashingTf]] and the
    * inverted-index search pipeline. */
  def bucketCounts(spark: SparkSession, dir: String, dim: Int = Dim,
                   maxDoc: Option[Long] = None): DataFrame =
    bucketCountsOf(capped(Tables.documents(spark, dir), maxDoc), dim)

  /** [[bucketCounts]] over an arbitrary (doc_id, text) frame — the
    * form the incremental-ingest path needs (a batch of new docs is
    * not a corpus directory). */
  private def bucketCountsOf(docs: DataFrame, dim: Int): DataFrame =
    // explode_OUTER + null filter, not plain explode: the optimizer
    // infers a `size(e) > 0 AND isnotnull(e)` filter below an inner
    // explode and SUBSTITUTES the generator expression into it — the
    // encode kernel then runs three times per document (r16 plan
    // dumps). Outer explode infers nothing; the null row an empty/null
    // token array generates is dropped on the generated ATTRIBUTE
    // (cheap), leaving exactly the inner-explode row set.
    docs.select(col("doc_id"),
        explode_outer(native.bucketCounts(tokens(col("text")), dim)).as("bc"))
      .filter(col("bc").isNotNull)
      .select(col("doc_id"), col("bc.bucket").as("bucket"),
        col("bc.cnt").as("cnt"))

  /** The ONE postings derivation — (doc_id, bucket, cnt, norm) with
    * the exact-integer-squares L2 norm — shared by the index build and
    * the index append so the two can never diverge. The norm is
    * per-document, so it is computable from any doc-complete subset.
    *
    * MAP-SIDE since r16 (guide §2.4): the per-doc (bucket, cnt) pairs
    * come from the one-pass [[graft.functions.BucketCountsExpr]]
    * kernel and the norm from an in-row fold over them, so the encode
    * leg carries NO Exchange at all — the pre-r16 explode → groupBy
    * (doc, bucket) → window(norm) shape shuffled the full exploded
    * posting stream once and sort-shuffled it again for the window, a
    * 2×-corpus-pass cost at 100 TB. Counts and the integer-squares
    * norm are bit-identical (integer sums, order-free; asserted by
    * the unchanged oracles and FunctionsSpec). */
  private[operators] def postingsOf(docs: DataFrame, dim: Int): DataFrame =
    docs.select(col("doc_id"),
        native.bucketCounts(tokens(col("text")), dim).as("_bcs"))
      // norm in its OWN projection, below the explode: an expression
      // placed in the same select as a generator is evaluated once per
      // GENERATED row — the O(|buckets|) fold would run per posting,
      // O(b²) per doc (verified in the r16 plan dumps). Here it is a
      // per-doc attribute the generate merely forwards. _bcs is
      // referenced twice, which also stops CollapseProject from
      // inlining the kernel into the fold.
      .select(col("doc_id"), col("_bcs"),
        sqrt(aggregate(col("_bcs"), lit(0L),
          (a, x) => a + x.getField("cnt") * x.getField("cnt"))
          .cast("double")).as("norm"))
      // explode_outer + null filter for the same inferred-filter
      // reason as [[bucketCountsOf]] (here the inferred filter's
      // substituted copy would re-run the kernel per doc twice more)
      .select(col("doc_id"), col("norm"), explode_outer(col("_bcs")).as("bc"))
      .filter(col("bc").isNotNull)
      .select(col("doc_id"), col("bc.bucket").as("bucket"),
        col("bc.cnt").as("cnt"), col("norm"))

  /** Hashing-TF (ref encoder.py:93-103 `_hash_vectorize`): token →
    * polynomial hash → bucket, per-bucket counts, row L2-normalized.
    * The L2 norm is computed from exact integer squares, so it is
    * bit-identical with the oracle. */
  def hashingTf(spark: SparkSession, dir: String, dim: Int = Dim): DataFrame =
    postingsOf(Tables.documents(spark, dir), dim)
      .select(col("doc_id"), col("bucket"),
        rnd(col("cnt") / col("norm"), 4).as("tf_norm"))
      .orderBy("doc_id", "bucket")

  /** End-to-end reference pipeline (ref main flow: DummyEncoder +
    * offline_search — encoder.py:93-103 then auto_run_tests.py:115-160):
    * encode every document as a hashing-TF vector, then cosine top-k of
    * query docs (doc_id < nq) against the rest via an *inverted-index
    * join on bucket* — the sparse formulation: cos(q,d) =
    * Σ_b cnt_q·cnt_d / (‖q‖·‖d‖), with the numerator an exact integer
    * sum (order-independent, bit-identical with the oracle). At scale
    * the bucket join shuffles only the sparse postings, never dense
    * vectors. */
  def hashingSearch(spark: SparkSession, dir: String, k: Int = 10,
                    nq: Int = 5, dim: Int = Dim,
                    maxDoc: Option[Long] = None): DataFrame = {
    // norms ride along in the map-side postings projection (r16 —
    // no window, no exchange; see [[postingsOf]]): the doc_id filters
    // below still push straight to the scans, so the q side is a
    // pruned scan and the doc side is ONE full map-only pass.
    val cn = postingsOf(capped(Tables.documents(spark, dir), maxDoc), dim)
    val qc = cn.filter(col("doc_id") < nq)
      .select(col("doc_id").as("q_id"), col("bucket"),
        col("cnt").as("qcnt"), col("norm").as("qn"))
    val scored = sparseCosine(cn.filter(col("doc_id") >= nq), qc, Seq("doc_id"))
    rankTopK(scored, k)
  }

  /** Persisted hashing-TF postings index — the Spark analog of the
    * ref's encode-time memmap (auto_run_tests.py:52-108
    * `encode_to_memmap`: the encode leg ENDS with the corpus durable
    * on disk, and every later query reads that artifact, never
    * re-encoding the corpus). Layout: (doc_id, bucket, cnt, norm)
    * sparse postings, where cnt stays the exact integer hashing-TF
    * count and norm the exact-integer-squares L2 norm — so indexed
    * search is bit-identical to [[hashingSearch]] (asserted in
    * IndexedSearchSpec). At 100 TB this is the serving artifact: the
    * ingest pipeline rebuilds or appends it once, amortized over
    * every query that follows. */
  def writeHashingIndex(spark: SparkSession, dir: String, out: String,
                        dim: Int = Dim, maxDoc: Option[Long] = None): Unit =
    postingsOf(capped(Tables.documents(spark, dir), maxDoc), dim)
      .write.mode("overwrite").parquet(out)

  /** Incremental maintenance for a [[writeHashingIndex]] layout — the
    * serving-side ingest path (same contract as
    * [[Ann.appendToIvfIndex]]): postings+norm for a batch of NEW
    * (doc_id, text) documents, computed from the batch ALONE (a
    * rebuild re-tokenizes the whole corpus) and appended. Hashing-TF
    * norms are per-document, so for batch doc_ids disjoint from the
    * index's, append ≡ full rebuild bit-identically (asserted in
    * IndexedSearchSpec). Append debt (small files) is reclaimed the
    * usual way: rebuild, or a parquet-dir compaction pass. */
  def appendToHashingIndex(spark: SparkSession, newDocs: DataFrame,
                           out: String, dim: Int = Dim): Unit =
    postingsOf(newDocs, dim).write.mode("append").parquet(out)

  /** Cosine top-k against a persisted postings index (ref
    * `measure_offline_query_latency`, auto_run_tests.py:109-160: the
    * timed query loop touches ONLY the prebuilt memmap). Queries are
    * the first `nq` doc ids of the index, the corpus side everything
    * else; both sides are plain parquet scans of the index (the
    * doc_id predicates push down), so per-query cost is
    * scan+join+agg — no tokenize/explode/window anywhere in the hot
    * path. */
  def hashingSearchIndexed(spark: SparkSession, indexPath: String,
                           k: Int = 10, nq: Int = 5): DataFrame =
    hashingSearchIndexedFrame(spark.read.parquet(indexPath), k, nq)

  /** [[hashingSearchIndexed]] against an already-loaded (and possibly
    * `persist`ed) postings frame — the repeated-query serving shape:
    * the ref's query loop memmaps the vector file ONCE and every query
    * reads it page-cache-warm (auto_run_tests.py:150-160); a serving
    * process holding the postings in Spark storage memory is the same
    * discipline, and is what the H2 bench leg measures. */
  def hashingSearchIndexedFrame(idx: DataFrame, k: Int = 10,
                                nq: Int = 5): DataFrame = {
    val qc = idx.filter(col("doc_id") < nq)
      .select(col("doc_id").as("q_id"), col("bucket"),
        col("cnt").as("qcnt"), col("norm").as("qn"))
    rankTopK(sparseCosine(idx.filter(col("doc_id") >= nq), qc, Seq("doc_id")), k)
  }

  /** Free-text query search — the reference's actual ONLINE query
    * shape (mock.query_vector_search / offline_search score arbitrary
    * ENCODED QUERY TEXTS against the corpus, auto_run_tests.py:109-146
    * and unit_test_precision.py:1-20; the corpus-prefix searches model
    * its H-grid runs, where queries are drawn from the corpus):
    * encode a (q_id, text) query frame with the same hashing-TF map
    * and cosine-rank the corpus against it. The query side is a tiny
    * frame (broadcast through [[sparseCosine]]); the corpus side is
    * the one postings pass — at scale, point it at a
    * [[writeHashingIndex]] layout instead via
    * [[hashingSearchTextIndexed]]. */
  def hashingSearchText(spark: SparkSession, dir: String,
                        queries: DataFrame, k: Int = 10,
                        dim: Int = Dim): DataFrame =
    hashingSearchTextOver(
      postingsOf(Tables.documents(spark, dir).select("doc_id", "text"), dim),
      queries, k, dim)

  /** [[hashingSearchText]] against a prebuilt postings layout — the
    * serving form: query encode touches only the (tiny) query frame,
    * the corpus side reads the stored index. */
  def hashingSearchTextIndexed(spark: SparkSession, indexPath: String,
                               queries: DataFrame, k: Int = 10,
                               dim: Int = Dim): DataFrame =
    hashingSearchTextOver(spark.read.parquet(indexPath), queries, k, dim)

  private def hashingSearchTextOver(postings: DataFrame, queries: DataFrame,
                                    k: Int, dim: Int): DataFrame = {
    val qc = postingsOf(
      queries.select(col("q_id").as("doc_id"), col("text")), dim)
      .select(col("doc_id").as("q_id"), col("bucket"),
        col("cnt").as("qcnt"), col("norm").as("qn"))
    rankTopK(sparseCosine(postings, qc, Seq("doc_id")), k)
  }

  /** Per-doc gathered form of a [[writeHashingIndex]] postings layout:
    * (doc_id, buckets, cnts, norm) with the two arrays pair-aligned —
    * the Spark analog of the ref's row-major vector memmap (one row
    * per doc, auto_run_tests.py:52-108). Gathering is the serving
    * process's LOAD step (the ref's `np.memmap` open): done once,
    * persisted, and every query after it scans doc rows instead of
    * postings rows. */
  def gatherPostings(idx: DataFrame): DataFrame =
    idx.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("bucket"), col("cnt")))).as("es"),
        first(col("norm")).as("norm"))
      .select(col("doc_id"),
        col("es").getField("bucket").as("buckets"),
        col("es").getField("cnt").as("cnts"),
        col("norm"))

  /** Persist the gathered per-doc layout as its own parquet artifact —
    * the serving-side twin of [[writeHashingIndex]] and the Spark
    * analog of the ref's row-major memmap FILE (auto_run_tests.py:52-108
    * writes it at encode time; every query pass after that scans it).
    * Written doc_id-SORTED: range partitioning gives each file/row-group
    * a tight doc_id span, so the query-side `doc_id < nq` probe prunes
    * to one row group instead of decoding the whole corpus, and the
    * serving scan reads sequentially. Deliberately parquet, NOT a
    * `.persist()`: a 100 TB (or even multi-GB) gathered corpus must not
    * depend on Spark storage memory — the r10 bench showed the
    * MEMORY_AND_DISK shape collapsing to disk-deserialization speed
    * under memory pressure, while a columnar scan stays page-cache-fast
    * and is what a 1000-executor cluster would do anyway. */
  def writeGatheredIndex(spark: SparkSession, idxPath: String,
                         out: String): Unit =
    gatherPostings(spark.read.parquet(idxPath))
      .orderBy("doc_id")
      .write.mode("overwrite").parquet(out)

  /** Build the gathered per-doc serving layout DIRECTLY from the
    * corpus — tokenize → postings → gather in ONE composed plan,
    * ending with a single durable artifact. This is the exact analog
    * of the ref's `encode_to_memmap` (auto_run_tests.py:52-108): its
    * encode leg ends with ONE per-doc vector file on disk.
    * [[writeHashingIndex]] + [[writeGatheredIndex]] produce the same
    * bytes with the postings layout persisted as an extra product;
    * when only the dense serving scan is wanted (the H2 protocol),
    * this skips that intermediate write+read entirely. Bit-equality
    * with the two-step build is asserted in IndexedSearchSpec. */
  def writeGatheredDirect(spark: SparkSession, dir: String, out: String,
                          dim: Int = Dim): Unit =
    gatherPostings(
      postingsOf(Tables.documents(spark, dir).select("doc_id", "text"), dim))
      .orderBy("doc_id")
      .write.mode("overwrite").parquet(out)

  /** Query side of the dense scan: the first `nq` doc rows of a
    * gathered layout expanded to dense integer vectors —
    * (q_id, qdense, qn). */
  def denseQueries(gathered: DataFrame, nq: Int = 5,
                   dim: Int = Dim): DataFrame =
    gathered.filter(col("doc_id") < nq)
      .select(col("doc_id").as("q_id"),
        map_from_arrays(col("buckets"), col("cnts")).as("m"),
        col("norm").as("qn"))
      .select(col("q_id"),
        transform(sequence(lit(0L), lit(dim - 1L)),
          i => coalesce(element_at(col("m"), i), lit(0L))).as("qdense"),
        col("qn"))

  /** [[denseQueries]] collected into a LocalRelation — the serving
    * process's query-prep step. The ref's measured loop encodes
    * `query_embs` BEFORE its timed region (auto_run_tests.py:172-194:
    * t0 starts after q_emb is in hand), so a timed pass over a plan
    * holding the queries as local data is the faithful shape: the
    * timed job broadcasts 30 in-memory rows and scans ONLY the
    * gathered artifact, with no query-side file scan job. nq is tiny
    * by contract (a query batch), so the collect is bounded. */
  def denseQueriesLocal(gathered: DataFrame, nq: Int = 5,
                        dim: Int = Dim): DataFrame = {
    val qg = denseQueries(gathered, nq, dim)
    qg.sparkSession.createDataFrame(
      java.util.Arrays.asList(qg.collect(): _*), qg.schema)
  }

  /** [[hashingSearchIndexedFrame]] re-expressed JOIN-FREE over a
    * gathered layout — the ref's actual scoring shape
    * (offline_search's chunked `mmap.dot(q)`, auto_run_tests.py:115-140):
    * each query becomes a broadcast dense vector, every doc row scores
    * against it with one codegen'd sparse·dense kernel pass, and the
    * bounded-heap top-k partial-aggregates map-side — so the ONLY
    * shuffle is ~(partitions × queries) tiny heaps, versus the sparse
    * form's (q, doc)-group shuffle. Bit-identical to the sparse form:
    * the inner product is the same exact integer sum (order-free), the
    * ip > 0 filter reproduces the bucket-join's candidate set (a pair
    * joins iff it shares a bucket iff its integer ip is positive), and
    * the division is the same IEEE expression. At 100 TB this is the
    * serving scan: linear in docs, no shuffle of anything
    * corpus-sized, embarrassingly parallel across executors. */
  def hashingSearchDense(gathered: DataFrame, k: Int = 10, nq: Int = 5,
                         dim: Int = Dim): DataFrame =
    hashingSearchDenseOver(gathered, denseQueries(gathered, nq, dim), k, nq)

  /** The dense scoring tail with an explicit query side (either the
    * in-plan [[denseQueries]] subtree or a [[denseQueriesLocal]]
    * LocalRelation — bit-identical results either way). */
  def hashingSearchDenseOver(gathered: DataFrame, qg: DataFrame,
                             k: Int = 10, nq: Int = 5): DataFrame = {
    val scored = gathered.filter(col("doc_id") >= nq)
      .crossJoin(broadcast(qg))
      .select(col("q_id"), col("doc_id"),
        (graft.functions.native.sparseDotDense(
          col("buckets"), col("cnts"), col("qdense")).cast("double") /
          (col("qn") * col("norm"))).as("score"))
    // The no-shared-bucket pairs the sparse join never produces score
    // exactly 0 here (integer ip = 0; positives are ≥ 1/(qn·dn) > 0).
    // They are dropped AFTER the heap, not before: a pre-heap filter
    // gets pushed into the join condition and evaluates the kernel
    // twice per row. Zero-score rows rank strictly below every
    // positive row, so surviving rows keep identical ranks and the
    // output equals the sparse form's row-for-row.
    Knn.topKPerQuery(scored, k)
      .filter(col("score") > 0)
      .select(col("q_id"), col("rank"), col("doc_id"),
        rnd(col("score"), 4).as("score"))
      .orderBy("q_id", "rank")
  }

  /** [[hashingSearchDense]] over the memoized GATHERED artifact — the
    * verified-query form (`pipeline_indexed_dense`): first call builds
    * postings + gathered layout (the encode leg), every later call is
    * a pure serving scan of the gathered parquet — the exact H2 shape.
    * Results ≡ [[hashingSearchViaIndex]] ≡ [[hashingSearch]], so it
    * shares their oracle. */
  def hashingSearchDenseViaIndex(spark: SparkSession, dir: String,
                                 k: Int = 10, nq: Int = 5,
                                 dim: Int = Dim): DataFrame =
    hashingSearchDense(
      spark.read.parquet(gatheredIndexPath(spark, dir, dim)), k, nq, dim)

  /** Path of the memoized per-(app, dir, dim) scratch GATHERED layout
    * ([[writeGatheredIndex]] over [[hashingIndexPath]]'s postings),
    * building both on first use. */
  def gatheredIndexPath(spark: SparkSession, dir: String,
                        dim: Int = Dim): String =
    graft.Memo.scratch(spark, "graft-hgat", dir, dim)(out =>
      writeGatheredIndex(spark, hashingIndexPath(spark, dir, dim), out))

  // an index build is a BUILD (same contract as the vocabulary fit):
  // one corpus pass whose on-disk result every later query shares
  /** Path of the memoized per-(app, dir, dim) scratch hashing index,
    * building it on first use — shared by [[hashingSearchViaIndex]]
    * and the chunk-index query side ([[Chunking.chunkSearchViaIndex]]
    * reads its whole-document query vectors from this same layout). */
  def hashingIndexPath(spark: SparkSession, dir: String,
                       dim: Int = Dim): String =
    graft.Memo.scratch(spark, "graft-hidx", dir, dim)(
      writeHashingIndex(spark, dir, _, dim))

  /** [[hashingSearchIndexed]] over the memoized scratch index — the
    * verified-query form: first call builds the index (the encode
    * leg), every later call is query-only, which is exactly the ref's
    * measured H2 shape. */
  def hashingSearchViaIndex(spark: SparkSession, dir: String, k: Int = 10,
                            nq: Int = 5, dim: Int = Dim): DataFrame =
    hashingSearchIndexed(spark, hashingIndexPath(spark, dir, dim), k, nq)

  /** The ONE sparse-cosine scoring contract, shared by
    * [[hashingSearch]] and [[Chunking.chunkSearch]]: postings
    * (keyCols…, bucket, cnt, norm) joined on bucket against BROADCAST
    * queries (q_id, bucket, qcnt, qn); cos = Σ qcnt·cnt / (qn·norm)
    * with the numerator an exact integer sum. Any tie-break/rounding
    * change lands in every consumer at once. */
  private[operators] def sparseCosine(postings: DataFrame, queries: DataFrame,
                                      keyCols: Seq[String]): DataFrame =
    postings.join(broadcast(queries), "bucket")
      .groupBy("q_id", keyCols: _*)
      .agg(sum(col("qcnt") * col("cnt")).as("ip"),
        first(col("qn")).as("qn"), first(col("norm")).as("dn"))
      .select(col("q_id") +: keyCols.map(col) :+
        (col("ip") / (col("qn") * col("dn"))).as("score"): _*)

  /** Shared ranked-output tail: bounded-heap top-k per query, rounded
    * score, (q_id, rank, doc_id, score) ordered. */
  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    Knn.topKPerQuery(scored, k)
      .select(col("q_id"), col("rank"), col("doc_id"), rnd(col("score"), 4).as("score"))
      .orderBy("q_id", "rank")

  /** (doc_id, tok, weight) unrounded TF-IDF weights — shared by
    * [[tfIdf]] (verified rounded projection) and [[tfIdfSearch]]. */
  /** (doc_id, tok, tf) per-document term counts. MAP-SIDE since r16 —
    * the one-pass [[graft.functions.TokenCountsExpr]] kernel replaces
    * the explode → groupBy(doc_id, tok) shape, removing the
    * corpus-sized exchange of the exploded token stream from every
    * TF-IDF / BM25 / keyword consumer (explode_outer + null filter
    * for the inferred-filter reason documented at [[bucketCountsOf]];
    * identical row set, bit-identical counts). */
  private[operators] def docTerm(spark: SparkSession, dir: String,
                                 maxDoc: Option[Long] = None): DataFrame =
    docTermOf(capped(Tables.documents(spark, dir), maxDoc))

  /** [[docTerm]] over an arbitrary (doc_id, text) frame — shared with
    * the TF-IDF index append path so build and append can never
    * diverge. */
  private[operators] def docTermOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode_outer(native.tokenCounts(tokens(col("text")))).as("tc"))
      .filter(col("tc").isNotNull)
      .select(col("doc_id"), col("tc.tok").as("tok"), col("tc.tf").as("tf"))

  /** (tok, idf) as a lazy plan subtree — for single-reference plans
    * ([[tfIdf]]): vocabulary ranking and the smoothed idf stay inside
    * the one job, overlapping with the postings pipeline. */
  private def lazyVocab(spark: SparkSession, dir: String, dim: Int): DataFrame = {
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    docTerm(spark, dir).groupBy("tok")
      .agg(sum("tf").as("total"), count(lit(1)).as("df"))
      .orderBy(desc("total"), col("tok"))
      .limit(dim)
      .crossJoin(broadcast(nDocs))
      .select(col("tok"),
        (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + lit(1.0)).as("idf"))
  }

  /** (tok, idf) FITTED: one corpus pass, `dim` rows collected, idf
    * finished on the driver (same Math.log Spark's `log` uses),
    * re-embedded as a literal LocalRelation — for plans that reference
    * the weights more than once ([[tfIdfSearch]]): left as a subtree,
    * the vocab pass is re-embedded and RE-EXECUTED per reference
    * (exchange reuse does not fire across these subtrees; the executed
    * search plan scanned the corpus 6×). The ref fits its
    * TfidfVectorizer exactly once the same way (encoder.py:76-92). */
  private def fittedVocab(spark: SparkSession, dir: String, dim: Int,
                          maxDoc: Option[Long] = None): DataFrame =
    spark.createDataFrame(
      fitVocab(spark, dir, dim, maxDoc).map { case (tok, _, idf) => (tok, idf) })
      .toDF("tok", "idf")

  /** The ONE vocabulary-fit contract (ordering, tie-break), collected
    * driver-side: (corpus doc count, rows (tok, popularity index
    * 1..dim, document frequency)). Every fitted derivation —
    * [[fittedVocab]], [[keywordExtract]], [[bm25TopK]] and the idf
    * literal tables the Verify overlay embeds in oracle SQL — reads
    * this, so the fit can never diverge between them.
    *
    * Memoized per (dir, dim, cap) — the fit is a FIT: one eager
    * corpus pass whose tiny (dim-row) result every consumer shares,
    * the in-session analog of a persisted vectorizer. Without the
    * memo each tfidf/hybrid/keyword/BM25 query construction re-ran
    * the pass (the experiment grids paid it up to 6× per call). */
  def fitVocabRaw(spark: SparkSession, dir: String, dim: Int,
                  maxDoc: Option[Long] = None): (Long, Seq[(String, Long, Long)]) =
    graft.Memo(spark, "vocab", dir, dim, maxDoc)(
      fitVocabUncached(spark, dir, dim, maxDoc))

  private def fitVocabUncached(spark: SparkSession, dir: String, dim: Int,
                               maxDoc: Option[Long]): (Long, Seq[(String, Long, Long)]) = {
    val nDocs = capped(Tables.documents(spark, dir), maxDoc).count()
    val rows = docTerm(spark, dir, maxDoc).groupBy("tok")
      .agg(sum("tf").as("total"), count(lit(1)).as("df"))
      .orderBy(desc("total"), col("tok"))
      .limit(dim)
      .select("tok", "df").collect()
      .zipWithIndex.map { case (r, i) =>
        (r.getString(0), (i + 1).toLong, r.getLong(1))
      }.toSeq
    (nDocs, rows)
  }

  /** (tok, idx, smoothed tf-idf idf) — the TfidfVectorizer fit. */
  private[operators] def fitVocab(spark: SparkSession, dir: String, dim: Int,
                                  maxDoc: Option[Long] = None): Seq[(String, Long, Double)] = {
    val (nDocs, rows) = fitVocabRaw(spark, dir, dim, maxDoc)
    rows.map { case (tok, idx, df) =>
      (tok, idx, math.log((1.0 + nDocs) / (1.0 + df)) + 1.0)
    }
  }

  /** (idx → ⌊idf·1e6+0.5⌋) literal rows for the tf-idf keyword oracle —
    * EXACTLY the quantized values [[keywordExtract]] ranks with, so an
    * oracle carrying them (Verify's per-SF overlay) does no ln() of its
    * own and the cross-engine libm-divergence risk is zero. */
  def idfLiteralsTfIdf(spark: SparkSession, dir: String,
                       dim: Int = Dim): Seq[(Long, Long)] =
    fitVocab(spark, dir, dim).map { case (_, idx, idf) =>
      (idx, math.floor(idf * 1e6 + 0.5).toLong)
    }

  /** Both overlay literal tables — tf-idf and BM25 (idx → idf6) — from
    * ONE [[fitVocabRaw]] job: the fit is the corpus-wide pass, the two
    * idf formulas are driver arithmetic on its (nDocs, df) rows. Each
    * arm repeats the exact double-op order of [[idfLiteralsTfIdf]] /
    * [[bm25IdfRows]] so the quantized values are bit-identical. */
  def idfLiteralsBoth(spark: SparkSession, dir: String, dim: Int = Dim)
      : (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val (nDocs, rows) = fitVocabRaw(spark, dir, dim)
    val t = rows.map { case (_, idx, df) =>
      val idf = math.log((1.0 + nDocs) / (1.0 + df)) + 1.0
      (idx, math.floor(idf * 1e6 + 0.5).toLong)
    }
    val b = rows.map { case (_, idx, df) =>
      (idx,
        math.floor(math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5)) * 1e6 + 0.5).toLong)
    }
    (t, b)
  }

  /** (tok, idx, ⌊idf·1e6+0.5⌋) with the BM25 idf
    * ln(1 + (N − df + 0.5)/(df + 0.5)) — Robertson's formulation with
    * the +1 floor that keeps it positive (the Lucene variant). The
    * quantized integer is the ONE idf representation [[bm25TopK]]
    * scores with and the Verify overlay embeds as oracle literals. */
  def bm25IdfRows(spark: SparkSession, dir: String, dim: Int = Dim,
                  maxDoc: Option[Long] = None): Seq[(String, Long, Long)] = {
    val (nDocs, rows) = fitVocabRaw(spark, dir, dim, maxDoc)
    rows.map { case (tok, idx, df) =>
      (tok, idx,
        math.floor(math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5)) * 1e6 + 0.5).toLong)
    }
  }

  /** (idx → idf6) BM25 idf literal rows for the Verify oracle overlay. */
  def idfLiteralsBm25(spark: SparkSession, dir: String,
                      dim: Int = Dim): Seq[(Long, Long)] =
    bm25IdfRows(spark, dir, dim).map { case (_, idx, q) => (idx, q) }

  /** (doc_id, tok, weight) unrounded TF-IDF weights over the given
    * (tok, idf) vocabulary. */
  private def tfIdfWeights(spark: SparkSession, dir: String, vocab: DataFrame,
                           maxDoc: Option[Long] = None): DataFrame =
    docTerm(spark, dir, maxDoc).join(broadcast(vocab), "tok")
      .select(col("doc_id"), col("tok"),
        (col("tf") * col("idf")).as("weight"))

  /** The reference's PRIMARY encoder flow end-to-end (DummyEncoder
    * defaults to TfidfVectorizer, encoder.py:76-92): encode every doc
    * as a capped-vocabulary TF-IDF vector, retrieve cosine top-k of
    * query docs via an inverted-index join on the term — only shared
    * terms contribute, so the join moves sparse postings, never dense
    * vectors. Determinism: numerators and norms are fixed-point long
    * sums (fxSum — associative, so accumulation-order-free; an
    * unordered double sum is not), mirrored exactly in the oracle. */
  def tfIdfSearch(spark: SparkSession, dir: String, k: Int = 10,
                  nq: Int = 5, dim: Int = Dim,
                  maxDoc: Option[Long] = None): DataFrame =
    tfIdfScore(tfIdfPostings(spark, dir, dim, maxDoc), k, nq)

  /** (doc_id, tok, weight, nrm) TF-IDF postings with fixed-point norms
    * — the ONE weighted-postings derivation behind the in-plan search,
    * the persisted index and the index append. Norms ride along as a
    * window over the weights frame, so the plan needs no separate norm
    * aggregate and — crucially — no shuffle join of the scored pairs
    * back against a norm table. */
  private def tfIdfPostings(spark: SparkSession, dir: String, dim: Int,
                            maxDoc: Option[Long] = None): DataFrame = {
    val byDoc = Window.partitionBy("doc_id")
    tfIdfWeights(spark, dir, fittedVocab(spark, dir, dim, maxDoc), maxDoc)
      .withColumn("nrm", sqrt(
        sum(floor(col("weight") * col("weight") * 1e9 + 0.5).cast("long"))
          .over(byDoc) / 1e9))
  }

  /** The shared TF-IDF scoring tail over a (doc_id, tok, weight, nrm)
    * postings frame: inverted-index join on the term against broadcast
    * query postings; numerators are fixed-point long sums (fxSum —
    * associative, so accumulation-order-free; an unordered double sum
    * is not), mirrored exactly in the oracle. Shared by [[tfIdfSearch]]
    * and [[tfIdfSearchIndexed]] so the two cannot diverge. */
  private def tfIdfScore(wn: DataFrame, k: Int, nq: Int): DataFrame = {
    val qw = wn.filter(col("doc_id") < nq)
      .select(col("doc_id").as("q_id"), col("tok"),
        col("weight").as("qweight"), col("nrm").as("qn"))
    val scored = wn.filter(col("doc_id") >= nq)
      .join(broadcast(qw), "tok")
      .groupBy("q_id", "doc_id")
      .agg(fxSum(col("qweight") * col("weight"), 9).as("ip"),
        first(col("qn")).as("qn"), first(col("nrm")).as("dn"))
      .select(col("q_id"), col("doc_id"), (col("ip") / (col("qn") * col("dn"))).as("score"))
    Knn.topKPerQuery(scored, k)
      .select(col("q_id"), col("rank"), col("doc_id"), rnd(col("score"), 4).as("score"))
      .orderBy("q_id", "rank")
  }

  /** Free-text query search under the reference's PRIMARY encoder —
    * the fitted-TfidfVectorizer TRANSFORM applied to arbitrary query
    * text (encoder.py:76-92: fit once on the corpus, transform every
    * query with the same vectorizer): query terms are weighted with
    * the FROZEN corpus fit (unknown terms drop, idf does not move —
    * sklearn transform semantics) and cosine-ranked against the
    * corpus postings. The [[hashingSearchText]] twin for the tfidf
    * model. */
  def tfIdfSearchText(spark: SparkSession, dir: String,
                      queries: DataFrame, k: Int = 10,
                      dim: Int = Dim): DataFrame =
    tfIdfScoreText(tfIdfPostings(spark, dir, dim),
      fittedVocab(spark, dir, dim), queries, k)

  /** [[tfIdfSearchText]] against a persisted [[writeTfidfIndex]]
    * layout — the serving form: the frozen fit is the index's own
    * stored `_vocab`, so query transform needs neither corpus nor
    * refit. */
  def tfIdfSearchTextIndexed(spark: SparkSession, indexPath: String,
                             queries: DataFrame, k: Int = 10): DataFrame =
    tfIdfScoreText(spark.read.parquet(indexPath),
      spark.read.parquet(s"$indexPath/_vocab"), queries, k)

  private def tfIdfScoreText(wn: DataFrame, vocab: DataFrame,
                             queries: DataFrame, k: Int): DataFrame = {
    val byQ = Window.partitionBy("q_id")
    val qw = queries.select(col("q_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("q_id", "tok").agg(count(lit(1)).as("tf"))
      .join(broadcast(vocab), "tok")
      .select(col("q_id"), col("tok"), (col("tf") * col("idf")).as("qweight"))
      .withColumn("qn", sqrt(
        sum(floor(col("qweight") * col("qweight") * 1e9 + 0.5).cast("long"))
          .over(byQ) / 1e9))
    val scored = wn.join(broadcast(qw), "tok")
      .groupBy("q_id", "doc_id")
      .agg(fxSum(col("qweight") * col("weight"), 9).as("ip"),
        first(col("qn")).as("qn"), first(col("nrm")).as("dn"))
      .select(col("q_id"), col("doc_id"),
        (col("ip") / (col("qn") * col("dn"))).as("score"))
    Knn.topKPerQuery(scored, k)
      .select(col("q_id"), col("rank"), col("doc_id"),
        rnd(col("score"), 4).as("score"))
      .orderBy("q_id", "rank")
  }

  /** Persisted TF-IDF postings index — [[writeHashingIndex]]'s twin
    * for the reference's PRIMARY encoder: the fitted-vocabulary
    * weights and fixed-point norms land durable on disk at encode
    * time, and indexed queries score from the stored doubles (IEEE
    * round-trips through parquet exactly), so indexed ≡ in-plan
    * bit-identically (spec-asserted). The FIT travels with the index
    * twice over: weights embed it, and the (tok, idf) table itself is
    * stored under `_vocab/` (an underscore path — invisible to the
    * postings scan, exactly like `_SUCCESS`), which is what lets
    * [[appendToTfidfIndex]] transform NEW documents under the frozen
    * fit without the original corpus. */
  def writeTfidfIndex(spark: SparkSession, dir: String, out: String,
                      dim: Int = Dim, maxDoc: Option[Long] = None): Unit =
    Compaction.stagedBuild(spark, out) { tmp =>
      tfIdfPostings(spark, dir, dim, maxDoc).write.mode("overwrite").parquet(tmp)
      fittedVocab(spark, dir, dim, maxDoc)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/_vocab")
    }

  /** Frozen-fit incremental maintenance for a [[writeTfidfIndex]]
    * layout — the fitted-TfidfVectorizer TRANSFORM contract (the ref
    * fits once and transforms every later batch with the same
    * vectorizer, encoder.py:76-92): a batch of NEW (doc_id, text)
    * documents is weighted with the INDEX'S OWN stored vocabulary —
    * idf does not move — and appended. Per-doc norms make a disjoint
    * append bit-equal to having encoded those docs at build time
    * under the same fit (spec-asserted). Refit + rebuild when drift
    * accumulates, exactly like the IVF centroid contract. */
  def appendToTfidfIndex(spark: SparkSession, newDocs: DataFrame,
                         indexPath: String): Unit = {
    val vocab = spark.read.parquet(s"$indexPath/_vocab")
    val byDoc = Window.partitionBy("doc_id")
    docTermOf(newDocs)
      .join(broadcast(vocab), "tok")
      .select(col("doc_id"), col("tok"), (col("tf") * col("idf")).as("weight"))
      .withColumn("nrm", sqrt(
        sum(floor(col("weight") * col("weight") * 1e9 + 0.5).cast("long"))
          .over(byDoc) / 1e9))
      .write.mode("append").parquet(indexPath)
  }

  /** Cosine top-k from a persisted [[writeTfidfIndex]] layout — no
    * tokenize, no vocabulary fit, no window in the hot path. */
  def tfIdfSearchIndexed(spark: SparkSession, indexPath: String,
                         k: Int = 10, nq: Int = 5): DataFrame =
    tfIdfScore(spark.read.parquet(indexPath), k, nq)

  /** [[tfIdfSearchIndexed]] over a memoized per-(app, dir, dim)
    * scratch index — the verified-query form, mirroring
    * [[hashingSearchViaIndex]]. The ingest caveat differs from the
    * hashing index: TF-IDF weights depend on the corpus-wide fit, so
    * appending NEW documents is only exact under the FROZEN fit (the
    * ref's fitted-TfidfVectorizer transform contract); refit + rebuild
    * when drift accumulates, exactly like the IVF centroid contract. */
  def tfIdfSearchViaIndex(spark: SparkSession, dir: String, k: Int = 10,
                          nq: Int = 5, dim: Int = Dim): DataFrame =
    tfIdfSearchIndexed(spark,
      graft.Memo.scratch(spark, "graft-tidx", dir, dim)(
        writeTfidfIndex(spark, dir, _, dim)), k, nq)

  /** BM25 top-k keyword retrieval — the keyword half of [[hybridSearch]]
    * and a standalone scorer (the standard Okapi/Lucene formulation the
    * reference's search_modes=["vector","hybrid"] knob implies for its
    * Weaviate target, auto_run_tests.py:624; the ref's local path never
    * dispatches a keyword scorer, so the semantics here are the public
    * BM25 ones). Query docs are doc_id < nq, query term frequency is
    * ignored (Lucene's convention); k1 = 1.2, b = 0.75 appear as the
    * SAME decimal literals in the oracle so both engines parse the
    * identical doubles (k1+1 is written 2.2, 1−b is written 0.25 —
    * re-deriving them arithmetically can differ by 1 ulp).
    *
    * Scale shape: vocabulary fit is the one [[fitVocabRaw]] pass
    * (≤ dim rows collected); doc lengths ride as a window over the
    * per-(doc,term) counts; the idf table and the nq·|vocab| query-term
    * postings broadcast; the only wide shuffle is the per-(q,doc)
    * partial-aggregated sum — sparse postings, never dense vectors.
    * Determinism: idf is a driver-quantized 1e6 integer, each term
    * contribution is floor-quantized at 1e9, and per-(q,doc) scores are
    * exact integer sums, ranked (score desc, doc_id asc). */
  def bm25TopK(spark: SparkSession, dir: String, k: Int = 10,
               nq: Int = 5, dim: Int = Dim,
               maxDoc: Option[Long] = None,
               fit: Option[Seq[(String, Long, Long)]] = None): DataFrame = {
    val cq = bm25DocScores(spark, dir, dim, maxDoc, fit)
    val q = docTerm(spark, dir, maxDoc).filter(col("doc_id") < nq)
      .select(col("doc_id").as("q_id"), col("tok"))
    bm25Rank(cq.filter(col("doc_id") >= nq), q, k)
  }

  /** (total token count, doc count) of the (capped) corpus — the BM25
    * avgdl fit, one memoized corpus pass. Corpus stats are a FIT
    * (Lucene keeps them in index stats): memoized per (dir, cap)
    * exactly like fitVocabRaw, so a warm BM25 plan carries them as
    * literals instead of re-running a second docTerm pass + a
    * documents count per call. */
  private[operators] def corpusStats(spark: SparkSession, dir: String,
                                     maxDoc: Option[Long] = None): (Long, Long) =
    graft.Memo(spark, "corpus-stats", dir, maxDoc) {
      val r = capped(Tables.documents(spark, dir), maxDoc)
        .agg(count(lit(1)), sum(size(tokens(col("text"))))).head
      (if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(0))
    }

  /** The per-(doc, term) quantized BM25 contribution relation over the
    * whole (capped) corpus — the ONE scoring table behind the
    * corpus-prefix query form ([[bm25TopK]]) and the free-text form
    * ([[bm25TopKText]]). `fit` lets a caller that needs the keyword
    * arm more than once (Experiment.matrix's two hybrid legs) pay the
    * eager fit job once. */
  private def bm25DocScores(spark: SparkSession, dir: String, dim: Int,
                            maxDoc: Option[Long] = None,
                            fit: Option[Seq[(String, Long, Long)]] = None): DataFrame = {
    val vocab = spark.createDataFrame(fit.getOrElse(bm25IdfRows(spark, dir, dim, maxDoc)))
      .toDF("tok", "idx", "idf6").drop("idx")
    val byDoc = Window.partitionBy("doc_id")
    val dt = docTerm(spark, dir, maxDoc)
      .withColumn("dl", sum("tf").over(byDoc))
    // same IEEE expression as the previous in-plan aggregate: the two
    // exact longs divide as doubles inside the plan
    val (tot, nDocs) = corpusStats(spark, dir, maxDoc)
    val avgdl = lit(tot).cast("double") / lit(nDocs)
    dt.join(broadcast(vocab), "tok")
      .select(col("doc_id"), col("tok"),
        floor((col("idf6") / lit(1e6)) * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
          * 1e9 + 0.5).cast("long").as("cq"))
  }

  private def bm25Rank(cq: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val scored = cq
      .join(broadcast(q), "tok")
      .groupBy("q_id", "doc_id").agg(sum("cq").as("sq"))
      .select(col("q_id"), col("doc_id"), (col("sq") / lit(1e9)).as("score"))
    Knn.topKPerQuery(scored, k)
      .select(col("q_id"), col("rank"), col("doc_id"), rnd(col("score"), 4).as("score"))
      .orderBy("q_id", "rank")
  }

  /** Free-text BM25 top-k — keyword retrieval for arbitrary (q_id,
    * text) queries: query terms are the DISTINCT tokens of the query
    * text (query term frequency ignored — Lucene's convention, same
    * as [[bm25TopK]]'s grouped query side), scored against the whole
    * corpus. The keyword half of [[hybridSearchText]]. */
  def bm25TopKText(spark: SparkSession, dir: String, queries: DataFrame,
                   k: Int = 10, dim: Int = Dim,
                   fit: Option[Seq[(String, Long, Long)]] = None): DataFrame = {
    val q = queries
      .select(col("q_id"), explode(tokens(col("text"))).as("tok"))
      .distinct()
    bm25Rank(bm25DocScores(spark, dir, dim, None, fit), q, k)
  }

  /** The standard generated free-text query set every registered
    * `*_text_search` query scores: [[Shaping.queryGen]]'s top-20 in
    * the harness's (q_id, text) shape. */
  def stdTextQueries(spark: SparkSession, dir: String): DataFrame =
    Shaping.queryGen(spark, dir, qCount = 20)
      .select(col("q_num").as("q_id"), col("query").as("text"))

  // The std-query text retrievals are session-memoized arms — the
  // free-text twin of [[Experiment.arm]]: the four registered text
  // queries share ONE query set, the hybrid form consumes the hashing
  // and bm25 retrievals the standalone queries already computed, and
  // without memoization each re-runs queryGen plus a corpus-side
  // scoring pass another query already paid for.
  private def textArm(spark: SparkSession, dir: String,
                      which: String): DataFrame =
    graft.Memo(spark, "text-arm", dir, which)((which match {
      case "hashing" => hashingSearchText(spark, dir, stdTextQueries(spark, dir))
      case "tfidf" => tfIdfSearchText(spark, dir, stdTextQueries(spark, dir))
      case "bm25" => bm25TopKText(spark, dir, stdTextQueries(spark, dir))
    }).localCheckpoint(true))

  /** Registered std-query forms: the memoized arm, re-ordered for
    * presentation (the checkpoint drops the total order). Bit-equal to
    * the direct generic calls over [[stdTextQueries]] — same subplan,
    * materialized once per session (Round13Spec). */
  def hashingTextStd(spark: SparkSession, dir: String): DataFrame =
    textArm(spark, dir, "hashing").orderBy("q_id", "rank")
  def tfIdfTextStd(spark: SparkSession, dir: String): DataFrame =
    textArm(spark, dir, "tfidf").orderBy("q_id", "rank")
  def bm25TextStd(spark: SparkSession, dir: String): DataFrame =
    textArm(spark, dir, "bm25").orderBy("q_id", "rank")

  /** [[hybridSearchText]] over [[stdTextQueries]], fused by RRF
    * row-arithmetic from the memoized hashing and bm25 arms — the
    * same expression as the generic form, minus its two fresh
    * corpus-scanning subplans. The memoized arms are built at the
    * generic default depth (k = 10), so arm-depth equivalence with
    * `hybridSearchText(..., k)` holds only for k ≤ 10 — enforced,
    * not assumed: a deeper fusion needs the generic form, which
    * threads k into both arms. */
  def hybridTextStd(spark: SparkSession, dir: String,
                    k: Int = 10): DataFrame = {
    require(k <= 10,
      s"hybridTextStd rides arms memoized at depth 10; k=$k > 10 would " +
        "silently diverge from hybridSearchText — use hybridSearchText")
    val vec = textArm(spark, dir, "hashing")
      .select(col("q_id"), col("doc_id"), col("rank").as("rv"))
    val kw = textArm(spark, dir, "bm25")
      .select(col("q_id"), col("doc_id"), col("rank").as("rk"))
    val fused = vec.join(kw, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0))).as("score"))
    Knn.topKPerQuery(fused, k)
      .select(col("q_id"), col("rank"), col("doc_id"), rnd(col("score"), 6).as("score"))
      .orderBy("q_id", "rank")
  }

  /** Free-text hybrid retrieval — the reference's "hybrid" search mode
    * for arbitrary query text: reciprocal-rank fusion (1/(60+rank),
    * the [[hybridSearch]] semantics) of the vector arm
    * ([[tfIdfSearchText]] or [[hashingSearchText]]) and the keyword
    * arm ([[bm25TopKText]]). */
  def hybridSearchText(spark: SparkSession, dir: String,
                       queries: DataFrame, k: Int = 10, dim: Int = Dim,
                       model: String = "hashing_tf",
                       kwFit: Option[Seq[(String, Long, Long)]] = None): DataFrame = {
    val vec = (if (model == "tfidf") tfIdfSearchText(spark, dir, queries, k, dim)
               else hashingSearchText(spark, dir, queries, k, dim))
      .select(col("q_id"), col("doc_id"), col("rank").as("rv"))
    val kw = bm25TopKText(spark, dir, queries, k, dim, fit = kwFit)
      .select(col("q_id"), col("doc_id"), col("rank").as("rk"))
    val fused = vec.join(kw, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0))).as("score"))
    Knn.topKPerQuery(fused, k)
      .select(col("q_id"), col("rank"), col("doc_id"), rnd(col("score"), 6).as("score"))
      .orderBy("q_id", "rank")
  }

  /** The two hybrid arms, (vector, keyword) — routed through
    * [[Experiment.arm]]'s session-memoized retrievals when the call
    * uses the default keyword fit (bm25TopK's fit=None resolves to
    * the same memoized IDF rows, so the arm-backed form is
    * bit-identical — spec'd in Round13Spec), or computed directly for
    * a caller-supplied fit. Vector arm: (q_id, rank, doc_id, score);
    * keyword arm: (q_id, doc_id, rk, score). */
  private def armPair(spark: SparkSession, dir: String, k: Int, nq: Int,
                      dim: Int, model: String,
                      kwFit: Option[Seq[(String, Long, Long)]])
      : (DataFrame, DataFrame) =
    if (kwFit.isEmpty) (
      Experiment.arm(spark, dir,
        if (model == "tfidf") "tfidf" else "hashing", k, nq, dim),
      Experiment.arm(spark, dir, "bm25", k, nq, dim))
    else (
      if (model == "tfidf") tfIdfSearch(spark, dir, k, nq, dim)
      else hashingSearch(spark, dir, k, nq, dim),
      bm25TopK(spark, dir, k, nq, dim, fit = kwFit)
        .select(col("q_id"), col("doc_id"), col("rank").as("rk"), col("score")))

  /** Hybrid retrieval: reciprocal-rank fusion of a vector arm (the
    * cosine top-k of the named encoder) and the [[bm25TopK]] keyword
    * arm — RRF(d) = Σ_arms 1/(60 + rank_arm(d)), Cormack et al.'s
    * standard constant, the rank-based fusion Weaviate ships as
    * hybrid "rankedFusion". Rank-based fusion needs no cross-arm score
    * normalization, and the RRF sum is two exact small-denominator
    * divisions — deterministic across engines with no quantization
    * ceremony. Each arm is an independent subplan (they parallelize
    * like [[Experiment.matrix]]'s legs); fusion itself touches only
    * 2·nq·k rank rows. */
  def hybridSearch(spark: SparkSession, dir: String, k: Int = 10,
                   nq: Int = 5, dim: Int = Dim,
                   model: String = "hashing_tf",
                   kwFit: Option[Seq[(String, Long, Long)]] = None): DataFrame = {
    // default-fit calls ride the session-memoized arm retrievals the
    // experiment grid already computes (bm25TopK's fit=None resolves
    // to the same memoized IDF rows, so this is bit-identical to the
    // direct arms — spec'd); a caller-supplied fit takes the direct
    // path
    val (vec0, kw0) = armPair(spark, dir, k, nq, dim, model, kwFit)
    val vec = vec0.select(col("q_id"), col("doc_id"), col("rank").as("rv"))
    val kw = kw0.select(col("q_id"), col("doc_id"), col("rk"))
    val fused = vec.join(kw, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0))).as("score"))
    Knn.topKPerQuery(fused, k)
      .select(col("q_id"), col("rank"), col("doc_id"), rnd(col("score"), 6).as("score"))
      .orderBy("q_id", "rank")
  }

  /** Hybrid retrieval, relative-score fusion — the OTHER Weaviate
    * hybrid mode (relativeScoreFusion, its default since 1.24; the
    * reference's hybrid knob dispatches to Weaviate, so both fusion
    * semantics are part of its surface): each arm's top-k scores are
    * min-max normalized to [0,1] WITHIN the query's candidate list,
    * fused = α·vector + (1−α)·keyword (α = 0.75, Weaviate's default —
    * rank-free, so score GAPS matter, unlike [[hybridSearch]]'s RRF).
    *
    * Determinism: both arms' outputs are already 1e4-quantized, the
    * min/max windows run over ≤k rows per query, and the fused score
    * is 1e9-quantized BEFORE ranking so both engines rank identical
    * values. Arms are independent subplans; fusion touches 2·nq·k
    * rows. */
  def hybridAlphaSearch(spark: SparkSession, dir: String, k: Int = 10,
                        nq: Int = 5, dim: Int = Dim, alpha: Double = 0.75,
                        model: String = "hashing_tf",
                        kwFit: Option[Seq[(String, Long, Long)]] = None): DataFrame = {
    val byQ = Window.partitionBy("q_id")
    def norm(arm: DataFrame, as: String) = arm
      .withColumn("_mn", min(col("score")).over(byQ))
      .withColumn("_mx", max(col("score")).over(byQ))
      .select(col("q_id"), col("doc_id"),
        when(col("_mx") > col("_mn"),
          (col("score") - col("_mn")) / (col("_mx") - col("_mn")))
          .otherwise(lit(1.0)).as(as))
    // same memoized-arm routing as [[hybridSearch]] — the arms carry
    // their scores, which is all the min-max normalization reads
    val (vec0, kw0) = armPair(spark, dir, k, nq, dim, model, kwFit)
    val vec = norm(vec0, "nv")
    val kw = norm(kw0, "nk")
    val fused = vec.join(kw, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        rnd(lit(alpha) * coalesce(col("nv"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("nk"), lit(0.0)), 9).as("score"))
    Knn.topKPerQuery(fused, k)
      .select(col("q_id"), col("rank"), col("doc_id"),
        rnd(col("score"), 6).as("score"))
      .orderBy("q_id", "rank")
  }

  /** TF-IDF with a capped vocabulary (ref encoder.py:76-116
    * DummyEncoder/TfidfVectorizer): vocabulary = top `dim` terms by
    * total corpus frequency (ties: term asc), smoothed idf
    * ln((1+N)/(1+df))+1, row L2-normalized tf·idf. */
  def tfIdf(spark: SparkSession, dir: String, dim: Int = Dim): DataFrame = {
    val w = Window.partitionBy("doc_id")
    tfIdfWeights(spark, dir, lazyVocab(spark, dir, dim))
      .withColumn("norm", sqrt(sum(col("weight") * col("weight")).over(w)))
      .select(col("doc_id"), col("tok").as("term"),
        rnd(col("weight") / col("norm"), 4).as("w"))
      .orderBy("doc_id", "term")
  }

  /** Top-[[KeywordsPerDoc]] TF-IDF keywords per document — the
    * keyword-extraction read of the reference's fitted vectorizer
    * (encoder.py:76-92: the highest-weighted vocabulary terms of a
    * doc's vector ARE its keywords). The vocabulary is fitted once
    * driver-side ([[fittedVocab]] pattern — ≤ dim rows) and broadcast
    * with a dense popularity index; per-doc selection then runs
    * through the bounded-heap [[graft.functions.TopKAgg.topKBy]]
    * aggregate, so every map task reduces to ≤ k terms per doc before
    * the one shuffle — never a per-doc sort of the full postings.
    * Two-level quantization makes the cross-engine ranking robust by
    * construction: the idf is quantized at 1e6 FIRST (the driver's
    * Math.log and the oracle's DuckDB ln() may differ in the last ulp
    * — neither is guaranteed correctly rounded — and the coarse grid
    * collapses any sub-ulp difference, leaving ~1e-10 total flip
    * probability across the ≤ dim vocabulary arguments), then the
    * tf·idf score is quantized to fixed-point 1e9 BEFORE ranking so
    * both engines rank the identical integers; ties break on the
    * vocabulary index, deterministically. */
  val KeywordsPerDoc = 3

  def keywordExtract(spark: SparkSession, dir: String,
                     kTop: Int = KeywordsPerDoc, dim: Int = Dim): DataFrame = {
    val vocabRows = fitVocab(spark, dir, dim).map { case (tok, idx, idf) =>
      (tok, idx, math.floor(idf * 1e6 + 0.5) / 1e6)
    }
    val vocab = spark.createDataFrame(vocabRows).toDF("tok", "idx", "idf")
    docTerm(spark, dir).join(broadcast(vocab), "tok")
      .select(col("doc_id"), col("idx"),
        floor(col("tf") * col("idf") * 1e9 + 0.5).cast("long").as("wq"))
      .groupBy("doc_id")
      .agg(graft.functions.TopKAgg.topKBy(col("wq").cast("double"), col("idx"), kTop).as("tk"))
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("idx"), col("e.score").as("wq"))
      .join(broadcast(vocab.select("idx", "tok")), "idx")
      .select(col("doc_id"), col("rank"), col("tok").as("term"),
        rnd(col("wq") / lit(1e9), 4).as("w"))
      .orderBy("doc_id", "rank")
  }

  /** Mean pooling (ref real_encoder.py:52-57 / encoder.py:42-48
    * `_mean_pooling`): per-token vectors averaged into a doc vector.
    * Token vectors come from a deterministic hash-derived stub lookup
    * (no model weights ship in-container); pooling itself — the part
    * the ref computes — is a sequential in-order fold, bit-identical
    * with the oracle. Stub dim = 8. */
  def meanPooling(spark: SparkSession, dir: String): DataFrame = {
    // token hashes are projected ONCE per row: the 8 pooled dims then
    // fold over the materialized long array instead of re-tokenizing/
    // re-hashing per expression (the recorded O(n²)-per-row lesson,
    // SURVEY.md §5)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col("doc_id"),
        transform(col("_toks"), t => polyHash(t)).as("_th"))
    val pooled = (0 until 8).map { j =>
      rnd(
        aggregate(col("_th"), lit(0.0), (acc, h) =>
          acc + ((h * (j + 1)) % HashP).cast("double") / lit(HashP.toDouble))
          / size(col("_th")),
        4).as(s"e_$j")
    }
    base.select(col("doc_id") +: pooled: _*).orderBy("doc_id")
  }

  /** Batched-inference encode plumbing (ref: embeddings/real_encoder.py
    * — the transformer path encodes texts in fixed-size batches so
    * model invocation is amortized). The Spark shape: `mapPartitions`
    * with `iterator.grouped(batchSize)`; a real model is loaded once
    * per partition (before the iterator is consumed) and fed
    * length-≤batchSize text arrays — the batch geometry Arrow-based
    * inference wants. The stub model ships deterministic hash-derived
    * vectors with EXACTLY [[meanPooling]]'s semantics, so the batched
    * path is asserted equal to the declarative plan (EncodersSpec) and
    * a real encoder drops into [[stubModelEncode]] with no plan change. */
  def encodeBatched(spark: SparkSession, dir: String, batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // per-partition init point: a real implementation constructs /
        // memory-maps the model here, once, then streams batches
        it.grouped(batchSize).flatMap { batch =>
          val vecs = stubModelEncode(batch.map(_._2))
          batch.iterator.zip(vecs.iterator).map { case ((id, _), v) => (id, v) }
        }
      }
      .toDF("doc_id", "vec")
  }

  /** [[encodeBatched]] with a REAL model through the same seam —
    * weights travel as a broadcast (how real weight blobs ship), the
    * model object is constructed from them ONCE PER PARTITION at the
    * documented init point, and batches stream through it. The plan
    * shape is identical to the stub path (mapPartitions over the same
    * projection — asserted in EncodersSpec), which is the whole claim:
    * a trained encoder drops into the seam with no plan change,
    * matching real_encoder.py:1-74's role in the reference. */
  def encodeBatchedWith(spark: SparkSession, dir: String,
                        model: LinearProbe.Model,
                        batchSize: Int = 64): DataFrame =
    // the probe implements [[BatchModel]], so this IS the generic seam
    // (one broadcast of the plain-array weights, per-partition fetch) —
    // kept as the named trained-model entrypoint the specs cite
    encodeBatchedModel(spark, dir, model, batchSize)

  /** The open batch-model contract for [[encodeBatchedModel]]:
    * anything serializable that maps a text batch to dense vectors —
    * a trained [[LinearProbe.Model]], a file-loaded
    * [[WordVectors.WordVecModel]], or (out of container) an
    * ONNX/transformer session wrapper whose weights ride in the
    * object. */
  trait BatchModel extends Serializable {
    def encode(texts: Seq[String]): Seq[Array[Double]]
  }

  /** [[encodeBatched]] with ANY [[BatchModel]] through the same seam —
    * the model object (weights included) ships as ONE broadcast, is
    * fetched once per partition at the documented init point, and
    * batches stream through it. The plan shape is identical to the
    * stub path (asserted in WordVecSpec), so an external-weights model
    * — word vectors loaded from a published .vec file, a transformer
    * session — drops in with no plan change
    * (ref: embeddings/real_encoder.py:1-74). */
  def encodeBatchedModel(spark: SparkSession, dir: String,
                         model: BatchModel,
                         batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // per-partition init: one broadcast fetch, then stream batches
        val m = bc.value
        it.grouped(batchSize).flatMap { batch =>
          val vecs = m.encode(batch.map(_._2))
          batch.iterator.zip(vecs.iterator).map { case ((id, _), v) => (id, v) }
        }
      }
      .toDF("doc_id", "vec")
  }

  /** The stub batch "model": per-token polynomial-hash vectors,
    * mean-pooled — bit-identical to [[meanPooling]]'s per-dim folds
    * (same hash, same left-to-right accumulation). Empty (or null) docs
    * encode to the zero vector — a null must not NPE inside an executor
    * when the declarative path degrades gracefully. */
  def stubModelEncode(texts: Seq[String]): Seq[Array[Double]] =
    texts.map { t0 =>
      val t = if (t0 == null) "" else t0
      val hs = t.split(" ").filter(_.nonEmpty).map(tok =>
        tok.codePoints().toArray.foldLeft(0L)((h, c) => (h * 31 + c) % HashP))
      Array.tabulate(8) { j =>
        if (hs.isEmpty) 0.0
        else hs.foldLeft(0.0)((acc, h) =>
          acc + (h * (j + 1) % HashP).toDouble / HashP) / hs.length
      }
    }

  /** Dense-vector assembly from exploded (doc_id, bucket, weight) —
    * library API used by the search pipeline and tests. */
  def assembleVector(exploded: DataFrame, dim: Int,
                     idCol: String = "doc_id", idxCol: String = "bucket",
                     wCol: String = "tf_norm"): DataFrame =
    exploded.groupBy(idCol)
      .agg(map_from_entries(collect_list(struct(col(idxCol).cast("int"), col(wCol)))).as("_m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("_m"), i), lit(0.0))).as("vector"))

  object SqlOracle {
    private val toksCte =
      s"(SELECT doc_id, unnest(${S.tokens("text")}) AS tok FROM documents)"

    /** Corpus-cap mirrors of [[Encoders.capped]]. */
    private def docsFrom(maxDoc: Option[Long]): String =
      maxDoc.fold("documents")(c => s"(SELECT * FROM documents WHERE doc_id < $c) documents")
    private def toksCteOf(maxDoc: Option[Long]): String =
      s"(SELECT doc_id, unnest(${S.tokens("text")}) AS tok FROM ${docsFrom(maxDoc)})"

    def hashingTf(dim: Int = Dim): String =
      s"""WITH t AS $toksCte,
         |b AS (SELECT doc_id, ${S.polyHash("tok")} % $dim AS bucket FROM t),
         |c AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY doc_id, bucket)
         |SELECT doc_id, bucket,
         |  (floor((cnt / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id))) * 1e4 + 0.5e0) / 1e4) AS tf_norm
         |FROM c ORDER BY doc_id, bucket""".stripMargin

    def tfIdf(dim: Int = Dim): String =
      s"""WITH t AS $toksCte,
         |dt AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
         |vocab AS (SELECT tok, sum(tf) AS total, count(*) AS df FROM dt
         |          GROUP BY tok ORDER BY total DESC, tok LIMIT $dim),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |wtd AS (
         |  SELECT dt.doc_id, dt.tok,
         |    dt.tf * (ln((1.0 + n_docs) / (1.0 + vocab.df)) + 1.0) AS weight
         |  FROM dt JOIN vocab USING (tok) CROSS JOIN nd)
         |SELECT doc_id, tok AS term,
         |  (floor((weight / sqrt(sum(weight * weight) OVER (PARTITION BY doc_id))) * 1e4 + 0.5e0) / 1e4) AS w
         |FROM wtd ORDER BY doc_id, term""".stripMargin

    /** `idf = Some(idx → idf6)` (Verify's per-SF overlay) swaps the
      * in-SQL ln() for the driver-fitted quantized literals, joined on
      * the vocabulary index the SQL still derives itself. */
    def keywordExtract(kTop: Int = KeywordsPerDoc, dim: Int = Dim,
                       idf: Option[Seq[(Long, Long)]] = None): String = {
      val wtdCte = idf match {
        case Some(rows) =>
          val vals = rows.map { case (idx, q) => s"($idx, $q)" }.mkString(", ")
          s"""wtd AS (
             |  SELECT dt.doc_id, vocab.idx, vocab.tok,
             |    CAST(floor(dt.tf * (l.idf6 / 1e6) * 1e9 + 0.5e0) AS BIGINT) AS wq
             |  FROM dt JOIN vocab USING (tok)
             |  JOIN (VALUES $vals) l(idx, idf6) ON l.idx = vocab.idx)""".stripMargin
        case None =>
          s"""wtd AS (
             |  SELECT dt.doc_id, vocab.idx, vocab.tok,
             |    CAST(floor(dt.tf * (floor((ln((1.0 + n_docs) / (1.0 + vocab.df)) + 1.0) * 1e6 + 0.5e0) / 1e6) * 1e9 + 0.5e0) AS BIGINT) AS wq
             |  FROM dt JOIN vocab USING (tok) CROSS JOIN nd)""".stripMargin
      }
      s"""WITH t AS $toksCte,
         |dt AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
         |v0 AS (SELECT tok, sum(tf) AS total, count(*) AS df FROM dt
         |       GROUP BY tok ORDER BY total DESC, tok LIMIT $dim),
         |vocab AS (SELECT tok, df,
         |  row_number() OVER (ORDER BY total DESC, tok) AS idx FROM v0),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |$wtdCte,
         |r AS (
         |  SELECT doc_id, idx, tok, wq,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY wq DESC, idx) AS rank
         |  FROM wtd)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok AS term,
         |  ${S.rnd("wq / 1e9", 4)} AS w
         |FROM r WHERE rank <= $kTop ORDER BY doc_id, rank""".stripMargin
    }

    def hashingSearch(k: Int = 10, nq: Int = 5, dim: Int = Dim,
                      maxDoc: Option[Long] = None): String =
      s"""WITH t AS ${toksCteOf(maxDoc)},
         |b AS (SELECT doc_id, ${S.polyHash("tok")} % $dim AS bucket FROM t),
         |c AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY doc_id, bucket),
         |n AS (SELECT doc_id, sqrt(CAST(sum(cnt * cnt) AS BIGINT)) AS norm
         |      FROM c GROUP BY doc_id),
         |qc AS (SELECT doc_id AS q_id, bucket, cnt AS qcnt FROM c WHERE doc_id < $nq),
         |dc AS (SELECT doc_id, bucket, cnt FROM c WHERE doc_id >= $nq),
         |ip AS (
         |  SELECT q_id, doc_id, CAST(sum(qcnt * cnt) AS BIGINT) AS ip
         |  FROM dc JOIN qc USING (bucket) GROUP BY q_id, doc_id),
         |scored AS (
         |  SELECT ip.q_id, ip.doc_id, ip.ip / (qn.norm * dn.norm) AS score
         |  FROM ip
         |  JOIN n qn ON qn.doc_id = ip.q_id
         |  JOIN n dn ON dn.doc_id = ip.doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $k
         |ORDER BY q_id, rank""".stripMargin

    /** Oracle for the queryGen→text-search composition
      * (`pipeline_text_query_search`): generated snippet queries
      * scored against the corpus — the unit_test_precision.py flow. */
    def textQuerySearch(q: Int = 20, snippetLen: Int = 200, k: Int = 10,
                        dim: Int = Dim): String =
      s"""WITH p AS (
         |  SELECT doc_id, substr(text, 1, $snippetLen) AS qtext,
         |    ${S.polyHash("'qs' || CAST(doc_id AS VARCHAR)")} AS pri
         |  FROM documents ORDER BY pri, doc_id LIMIT $q),
         |q AS (
         |  SELECT CAST(row_number() OVER (ORDER BY pri, doc_id) AS BIGINT) AS q_id,
         |    qtext FROM p),
         |qt AS (SELECT q_id, unnest(${S.tokens("qtext")}) AS tok FROM q),
         |qb AS (SELECT q_id, ${S.polyHash("tok")} % $dim AS bucket FROM qt),
         |qcc AS (SELECT q_id, bucket, count(*) AS qcnt FROM qb GROUP BY q_id, bucket),
         |qn AS (SELECT q_id, sqrt(CAST(sum(qcnt * qcnt) AS BIGINT)) AS qn
         |       FROM qcc GROUP BY q_id),
         |t AS $toksCte,
         |b AS (SELECT doc_id, ${S.polyHash("tok")} % $dim AS bucket FROM t),
         |c AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY doc_id, bucket),
         |n AS (SELECT doc_id, sqrt(CAST(sum(cnt * cnt) AS BIGINT)) AS norm
         |      FROM c GROUP BY doc_id),
         |ip AS (
         |  SELECT q_id, doc_id, CAST(sum(qcnt * cnt) AS BIGINT) AS ip
         |  FROM c JOIN qcc USING (bucket) GROUP BY q_id, doc_id),
         |scored AS (
         |  SELECT ip.q_id, ip.doc_id, ip.ip / (qn.qn * n.norm) AS score
         |  FROM ip JOIN qn ON qn.q_id = ip.q_id
         |  JOIN n ON n.doc_id = ip.doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $k
         |ORDER BY q_id, rank""".stripMargin

    /** Oracle for the queryGen→TF-IDF-text-search composition
      * (`pipeline_tfidf_text_search`): generated snippet queries
      * transformed under the frozen corpus fit, scored against the
      * corpus — [[tfIdfSearch]]'s CTEs with a text query side. */
    def tfIdfTextSearch(q: Int = 20, snippetLen: Int = 200, k: Int = 10,
                        dim: Int = Dim): String =
      s"""WITH t AS $toksCte,
         |dt AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
         |vocab AS (SELECT tok, sum(tf) AS total, count(*) AS df FROM dt
         |          GROUP BY tok ORDER BY total DESC, tok LIMIT $dim),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |idf AS (SELECT tok, (ln((1.0 + n_docs) / (1.0 + vocab.df)) + 1.0) AS idf
         |        FROM vocab CROSS JOIN nd),
         |w AS (
         |  SELECT doc_id, dt.tok, dt.tf * idf.idf AS weight
         |  FROM dt JOIN idf USING (tok)),
         |wn AS (
         |  SELECT doc_id, tok, weight,
         |    sqrt(CAST(sum(CAST(floor(weight * weight * 1e9 + 0.5e0) AS BIGINT))
         |      OVER (PARTITION BY doc_id) AS BIGINT) / 1e9) AS nrm
         |  FROM w),
         |p AS (
         |  SELECT doc_id, substr(text, 1, $snippetLen) AS qtext,
         |    ${S.polyHash("'qs' || CAST(doc_id AS VARCHAR)")} AS pri
         |  FROM documents ORDER BY pri, doc_id LIMIT $q),
         |qs AS (
         |  SELECT CAST(row_number() OVER (ORDER BY pri, doc_id) AS BIGINT) AS q_id,
         |    qtext FROM p),
         |qt AS (SELECT q_id, unnest(${S.tokens("qtext")}) AS tok FROM qs),
         |qdt AS (SELECT q_id, tok, count(*) AS tf FROM qt GROUP BY q_id, tok),
         |qw AS (
         |  SELECT q_id, qdt.tok, qdt.tf * idf.idf AS qweight
         |  FROM qdt JOIN idf USING (tok)),
         |qwn AS (
         |  SELECT q_id, tok, qweight,
         |    sqrt(CAST(sum(CAST(floor(qweight * qweight * 1e9 + 0.5e0) AS BIGINT))
         |      OVER (PARTITION BY q_id) AS BIGINT) / 1e9) AS qn
         |  FROM qw),
         |scored AS (
         |  SELECT q_id, doc_id,
         |    ${S.fxSum("qweight * weight", 9)} / (any_value(qn) * any_value(nrm)) AS score
         |  FROM wn JOIN qwn USING (tok) GROUP BY q_id, doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $k
         |ORDER BY q_id, rank""".stripMargin

    /** Snippet-query CTEs shared by the text-search oracles: `qs`
      * (q_id, qtext) from the deterministic hash-priority selection
      * and `qt` (q_id, tok) exploded tokens. */
    private def snippetQueryCtes(q: Int, snippetLen: Int): String =
      s"""p AS (
         |  SELECT doc_id, substr(text, 1, $snippetLen) AS qtext,
         |    ${S.polyHash("'qs' || CAST(doc_id AS VARCHAR)")} AS pri
         |  FROM documents ORDER BY pri, doc_id LIMIT $q),
         |qs AS (
         |  SELECT CAST(row_number() OVER (ORDER BY pri, doc_id) AS BIGINT) AS q_id,
         |    qtext FROM p),
         |qt AS (SELECT q_id, unnest(${S.tokens("qtext")}) AS tok FROM qs)""".stripMargin

    /** Oracle for free-text BM25 (`bm25TopKText` composed with
      * queryGen): [[bm25TopK]]'s CTEs with DISTINCT snippet tokens as
      * the query side and the whole corpus as candidates. */
    def bm25TextTopK(q: Int = 20, snippetLen: Int = 200, k: Int = 10,
                     dim: Int = Dim,
                     idf: Option[Seq[(Long, Long)]] = None): String = {
      val idfCte = idf match {
        case Some(rows) =>
          val vals = rows.map { case (idx, qv) => s"($idx, $qv)" }.mkString(", ")
          s"""idf AS (SELECT vocab.tok, l.idf6
             |  FROM vocab JOIN (VALUES $vals) l(idx, idf6) USING (idx))""".stripMargin
        case None =>
          s"""idf AS (SELECT vocab.tok,
             |  CAST(floor(ln(1e0 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * 1e6 + 0.5e0) AS BIGINT) AS idf6
             |  FROM vocab CROSS JOIN nd)""".stripMargin
      }
      s"""WITH t AS $toksCte,
         |dt AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
         |v0 AS (SELECT tok, sum(tf) AS total, count(*) AS df FROM dt
         |       GROUP BY tok ORDER BY total DESC, tok LIMIT $dim),
         |vocab AS (SELECT tok, df,
         |  row_number() OVER (ORDER BY total DESC, tok) AS idx FROM v0),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |$idfCte,
         |dld AS (SELECT doc_id, tok, tf,
         |  sum(tf) OVER (PARTITION BY doc_id) AS dl FROM dt),
         |st AS (SELECT sum(tf) AS tot FROM dt),
         |sc AS (
         |  SELECT doc_id, tok,
         |    CAST(floor((idf6 / 1e6) * (tf * 2.2e0) /
         |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / (CAST(tot AS DOUBLE) / n_docs)))
         |      * 1e9 + 0.5e0) AS BIGINT) AS cq
         |  FROM dld JOIN idf USING (tok) CROSS JOIN st CROSS JOIN nd),
         |${snippetQueryCtes(q, snippetLen)},
         |qd AS (SELECT DISTINCT q_id, tok FROM qt),
         |s AS (SELECT q_id, sc.doc_id, CAST(sum(cq) AS BIGINT) AS sq
         |      FROM sc JOIN qd USING (tok)
         |      GROUP BY q_id, sc.doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, sq,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sq DESC, doc_id) AS rank
         |  FROM s)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("sq / 1e9", 4)} AS score
         |FROM ranked WHERE rank <= $k
         |ORDER BY q_id, rank""".stripMargin
    }

    /** Oracle for free-text hybrid RRF (`hybridSearchText` composed
      * with queryGen, hashing_tf vector arm). */
    def hybridTextSearch(q: Int = 20, snippetLen: Int = 200, k: Int = 10,
                         dim: Int = Dim,
                         idf: Option[Seq[(Long, Long)]] = None): String =
      s"""WITH vecr AS (SELECT q_id, doc_id, rank AS rv FROM (
         |${textQuerySearch(q, snippetLen, k, dim)}) tv),
         |kwr AS (SELECT q_id, doc_id, rank AS rk FROM (
         |${bm25TextTopK(q, snippetLen, k, dim, idf)}) tk),
         |fused AS (
         |  SELECT coalesce(v.q_id, w.q_id) AS q_id,
         |    coalesce(v.doc_id, w.doc_id) AS doc_id,
         |    coalesce(1e0 / (60 + v.rv), 0e0) + coalesce(1e0 / (60 + w.rk), 0e0) AS score
         |  FROM vecr v FULL JOIN kwr w ON v.q_id = w.q_id AND v.doc_id = w.doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM fused)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 6)} AS score
         |FROM ranked WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

    def tfIdfSearch(k: Int = 10, nq: Int = 5, dim: Int = Dim,
                    maxDoc: Option[Long] = None): String =
      s"""WITH t AS ${toksCteOf(maxDoc)},
         |dt AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
         |vocab AS (SELECT tok, sum(tf) AS total, count(*) AS df FROM dt
         |          GROUP BY tok ORDER BY total DESC, tok LIMIT $dim),
         |nd AS (SELECT count(*) AS n_docs FROM ${docsFrom(maxDoc)}),
         |w AS (
         |  SELECT doc_id, dt.tok,
         |    dt.tf * (ln((1.0 + n_docs) / (1.0 + vocab.df)) + 1.0) AS weight
         |  FROM dt JOIN vocab USING (tok) CROSS JOIN nd),
         |wn AS (
         |  SELECT doc_id, tok, weight,
         |    sqrt(CAST(sum(CAST(floor(weight * weight * 1e9 + 0.5e0) AS BIGINT))
         |      OVER (PARTITION BY doc_id) AS BIGINT) / 1e9) AS nrm
         |  FROM w),
         |qw AS (SELECT doc_id AS q_id, tok, weight AS qweight, nrm AS qn
         |       FROM wn WHERE doc_id < $nq),
         |dw AS (SELECT doc_id, tok, weight, nrm FROM wn WHERE doc_id >= $nq),
         |scored AS (
         |  SELECT q_id, doc_id,
         |    ${S.fxSum("qweight * weight", 9)} / (any_value(qn) * any_value(nrm)) AS score
         |  FROM dw JOIN qw USING (tok) GROUP BY q_id, doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 4)} AS score
         |FROM ranked WHERE rank <= $k
         |ORDER BY q_id, rank""".stripMargin

    /** BM25 oracle. `idf = Some(idx → idf6)` (Verify's per-SF overlay)
      * swaps the in-SQL ln() for the driver-fitted literal values —
      * vocabulary membership/ordering stays derived in SQL, so a fit
      * divergence still mismatches, but DuckDB evaluates no ln and the
      * cross-engine libm risk is zero. `idf = None` (the static
      * contract map) keeps the self-contained two-level-quantized ln. */
    def bm25TopK(k: Int = 10, nq: Int = 5, dim: Int = Dim,
                 maxDoc: Option[Long] = None,
                 idf: Option[Seq[(Long, Long)]] = None): String = {
      val idfCte = idf match {
        case Some(rows) =>
          val vals = rows.map { case (idx, q) => s"($idx, $q)" }.mkString(", ")
          s"""idf AS (SELECT vocab.tok, l.idf6
             |  FROM vocab JOIN (VALUES $vals) l(idx, idf6) USING (idx))""".stripMargin
        case None =>
          s"""idf AS (SELECT vocab.tok,
             |  CAST(floor(ln(1e0 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * 1e6 + 0.5e0) AS BIGINT) AS idf6
             |  FROM vocab CROSS JOIN nd)""".stripMargin
      }
      s"""WITH t AS ${toksCteOf(maxDoc)},
         |dt AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
         |v0 AS (SELECT tok, sum(tf) AS total, count(*) AS df FROM dt
         |       GROUP BY tok ORDER BY total DESC, tok LIMIT $dim),
         |vocab AS (SELECT tok, df,
         |  row_number() OVER (ORDER BY total DESC, tok) AS idx FROM v0),
         |nd AS (SELECT count(*) AS n_docs FROM ${docsFrom(maxDoc)}),
         |$idfCte,
         |dld AS (SELECT doc_id, tok, tf,
         |  sum(tf) OVER (PARTITION BY doc_id) AS dl FROM dt),
         |st AS (SELECT sum(tf) AS tot FROM dt),
         |sc AS (
         |  SELECT doc_id, tok,
         |    CAST(floor((idf6 / 1e6) * (tf * 2.2e0) /
         |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / (CAST(tot AS DOUBLE) / n_docs)))
         |      * 1e9 + 0.5e0) AS BIGINT) AS cq
         |  FROM dld JOIN idf USING (tok) CROSS JOIN st CROSS JOIN nd),
         |q AS (SELECT doc_id AS q_id, tok FROM dt WHERE doc_id < $nq),
         |s AS (SELECT q_id, sc.doc_id, CAST(sum(cq) AS BIGINT) AS sq
         |      FROM sc JOIN q USING (tok) WHERE sc.doc_id >= $nq
         |      GROUP BY q_id, sc.doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, sq,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sq DESC, doc_id) AS rank
         |  FROM s)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("sq / 1e9", 4)} AS score
         |FROM ranked WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
    }

    /** RRF hybrid oracle over the named vector arm + BM25. */
    def hybridSearch(k: Int = 10, nq: Int = 5, dim: Int = Dim,
                     model: String = "hashing_tf",
                     idf: Option[Seq[(Long, Long)]] = None): String = {
      val vecSql =
        if (model == "tfidf") tfIdfSearch(k, nq, dim) else hashingSearch(k, nq, dim)
      s"""WITH vecr AS (SELECT q_id, doc_id, rank AS rv FROM (
         |$vecSql) tv),
         |kwr AS (SELECT q_id, doc_id, rank AS rk FROM (
         |${bm25TopK(k, nq, dim, None, idf)}) tk),
         |fused AS (
         |  SELECT coalesce(v.q_id, w.q_id) AS q_id,
         |    coalesce(v.doc_id, w.doc_id) AS doc_id,
         |    coalesce(1e0 / (60 + v.rv), 0e0) + coalesce(1e0 / (60 + w.rk), 0e0) AS score
         |  FROM vecr v FULL JOIN kwr w ON v.q_id = w.q_id AND v.doc_id = w.doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM fused)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 6)} AS score
         |FROM ranked WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
    }

    /** Relative-score (α) hybrid oracle: min-max normalize each arm's
      * top-k within the query, α-weight, 1e9-quantize before ranking
      * (mirrors [[Encoders.hybridAlphaSearch]] exactly). */
    def hybridAlphaSearch(k: Int = 10, nq: Int = 5, dim: Int = Dim,
                          alpha: Double = 0.75, model: String = "hashing_tf",
                          idf: Option[Seq[(Long, Long)]] = None): String = {
      val vecSql =
        if (model == "tfidf") tfIdfSearch(k, nq, dim) else hashingSearch(k, nq, dim)
      val a = s"${alpha}e0"; val b = s"${1.0 - alpha}e0"
      def normCte(src: String, out: String, col: String): String =
        s"""$out AS (SELECT q_id, doc_id,
           |    CASE WHEN mx > mn THEN (score - mn) / (mx - mn) ELSE 1e0 END AS $col
           |  FROM (SELECT q_id, doc_id, score,
           |      min(score) OVER (PARTITION BY q_id) AS mn,
           |      max(score) OVER (PARTITION BY q_id) AS mx FROM $src))""".stripMargin
      s"""WITH vecr AS (SELECT q_id, doc_id, score FROM (
         |$vecSql) tv),
         |kwr AS (SELECT q_id, doc_id, score FROM (
         |${bm25TopK(k, nq, dim, None, idf)}) tk),
         |${normCte("vecr", "vnorm", "nv")},
         |${normCte("kwr", "knorm", "nk")},
         |fused AS (
         |  SELECT coalesce(v.q_id, w.q_id) AS q_id,
         |    coalesce(v.doc_id, w.doc_id) AS doc_id,
         |    ${S.rnd(s"$a * coalesce(v.nv, 0e0) + $b * coalesce(w.nk, 0e0)", 9)} AS score
         |  FROM vnorm v FULL JOIN knorm w ON v.q_id = w.q_id AND v.doc_id = w.doc_id),
         |ranked AS (
         |  SELECT q_id, doc_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
         |  FROM fused)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, ${S.rnd("score", 6)} AS score
         |FROM ranked WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
    }

    val meanPooling: String = {
      val p = HashP
      def e(j: Int) =
        S.rnd(s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[CAST((${S.polyHash("t")} * ${j + 1}) % $p AS DOUBLE) / $p.0 for t in toks]), " +
          s"(a, x) -> a + x) / len(toks)", 4) + s" AS e_$j"
      s"""WITH d AS (SELECT doc_id, ${S.tokens("text")} AS toks FROM documents)
         |SELECT doc_id, ${(0 until 8).map(e).mkString(",\n  ")}
         |FROM d WHERE len(toks) > 0
         |ORDER BY doc_id""".stripMargin
    }
  }
}
