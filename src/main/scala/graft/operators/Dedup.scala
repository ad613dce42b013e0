package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._
import graft.functions.{Sql => S}

/** Deduplication operators for large-scale training-data pipelines
  * (additions beyond the reference's own surface — SURVEY.md §2).
  *
  * Scale design: nothing here compares all-pairs. Exact dedup is a
  * hash groupBy; MinHash-LSH shuffles on (band, bucket) so candidate
  * generation is linear in data + output; the n-gram and embedding
  * variants compare only within blocking keys. All randomness (MinHash
  * permutations) is fixed Scala-side and embedded as literals in both
  * the plan and the oracle SQL.
  */
object Dedup {
  val P: Long = HashP

  /** 16 MinHash permutations (a, b), derived once from seed 42 and
    * shared verbatim by the Spark plan and the oracle SQL. */
  val perms: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    IndexedSeq.fill(16)((math.abs(rnd.nextLong()) % (P - 1) + 1,
      math.abs(rnd.nextLong()) % P))
  }
  val NBands = 8 // 2 rows per band

  /** Default skew cap for every pair-expansion operator: a blocking key
    * (LSH bucket, SimHash band, (lang, first-token) block, cluster
    * label) shared by more rows than this is dropped before any pairs
    * are expanded — it carries no discriminating signal and its b²
    * expansion is the one quadratic hot spot these operators otherwise
    * have at scale. Chosen above every observed sf0.1 block size so
    * the verified oracles are unaffected (the 1825-member sf0.1
    * SimHash band that used to set this bound now falls under
    * [[SimHashMaxBand]]'s tighter, oracle-mirrored cap); real
    * deployments tune it per operator. */
  val MaxBlock = 4096

  /** Tighter cap for the COLLECT-LIST bucket expansions (minhash LSH,
    * embedding LSH): those materialize all b·(b−1)/2 pair structs of a
    * bucket in ONE row before exploding, so the cap bounds per-row
    * memory, not just work — 1024 ⇒ ≤ ~524k pair structs (~8 MB) per
    * bucket row. The join-based expansions stream and keep the looser
    * [[MaxBlock]]. Observed sf0.1 maxima (Verify's block-cap lines):
    * minhash 9, embedding-LSH 202 — oracles unaffected. */
  val MaxBucket = 1024

  /** SimHash-specific band cap — TIGHTER than [[MaxBlock]] and, unlike
    * every other cap, MIRRORED IN THE ORACLE SQL: generated/homogeneous
    * corpora concentrate into few 16-bit bands (measured: a 1825-member
    * band at sf0.1; the 10× scale corpus reads exponent ~1.5 through
    * the b² within-band join), so banding is declared approximate-by-
    * cap — a band shared by more than this many docs is skipped by
    * DEFINITION, in both engines. MinHash-LSH remains the primary
    * near-dup path; SimHash banding is the cheap approximate fallback. */
  val SimHashMaxBand = 1024

  /** Word 3-gram shingles, in token order (empty when < 3 tokens).
    * NOTE: `text` should be a *materialized token array reference* in
    * hot paths — see [[shinglesOf]]; passing `tokens(col)` directly
    * re-evaluates the tokenizer inside every element_at (O(n²)/row,
    * measured 28s → 1.4s on 5000 docs when materialized). */
  def shingles(text: Column): Column = shinglesOf(tokens(text))

  /** Shingles from an (ideally already-projected) token array column. */
  def shinglesOf(ts: Column): Column =
    when(size(ts) >= 3,
      transform(sequence(lit(1), size(ts) - 2), i =>
        concat(element_at(ts, i), lit(" "),
          element_at(ts, i + 1), lit(" "),
          element_at(ts, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** (doc_id, lang, t0, shh): hashed shingles with the token array
    * materialized once per row (single pass, no re-tokenization). */
  def hashedShingles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"), col("lang"),
        element_at(col("_toks"), 1).as("t0"),
        graft.functions.native.shingleHashes(col("_toks")).as("shh"))

  /** Exact dedup by content hash (md5 is identical in Spark and
    * DuckDB): one survivor (min doc_id) per distinct content. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("cnt"))

  /** Incremental (batch-vs-corpus) dedup — the shape a continuously-fed
    * training pipeline actually runs: an incoming batch (here docs with
    * doc_id ≡ 0 mod 10) checked against the EXISTING corpus's
    * fingerprint store plus itself, each incoming doc classified as
    * corpus_dup / batch_dup / new with its within-batch survivor.
    *
    * Scale shape: the corpus side reduces to DISTINCT content hashes
    * first (the persisted fingerprint store — at 100 TB this is the
    * artifact you keep between runs, not the corpus), and both lookups
    * are hash equi-joins against the small batch; no self-join of the
    * corpus anywhere. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val h = md5(col("text").cast("binary"))
    val inc = docs.filter(pmod(col("doc_id"), lit(10L)) === 0)
      .select(col("doc_id"), h.as("h"))
    val store = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
      .select(h.as("h")).distinct()
      .withColumn("in_corpus", lit(1L))
    val survivors = inc.groupBy("h").agg(min("doc_id").as("survivor_id"))
    inc.join(store, Seq("h"), "left")
      .join(survivors, "h")
      .select(col("doc_id"),
        when(col("in_corpus").isNotNull, "corpus_dup")
          .when(col("doc_id") =!= col("survivor_id"), "batch_dup")
          .otherwise("new").as("status"),
        col("survivor_id"))
  }

  /** (doc_id, lang, t0, sh): per-doc sorted-distinct hashed shingle
    * sets, hot-(lang, t0)-block capped. sh is sorted so the per-pair
    * intersection COUNT can run as a codegen'd O(n+m) merge. */
  private def blockedShingleSets(spark: SparkSession, dir: String,
                                 maxBlock: Int): DataFrame = {
    // ONE tokenize+shingle-hash corpus scan, materialized eagerly
    // (r17): capBlocks' hot-key count and every downstream consumer
    // (candidate leg + both verify joins in [[ngramJaccard]]) read the
    // checkpointed blocks instead of re-running the kernel scan — the
    // old shape paid the scan once for the count and once per
    // consumer. Cluster-mode trade-off as with CC's edge cache:
    // localCheckpoint forfeits recompute-on-executor-loss (fail-fast,
    // never wrong); a durable checkpoint dir is the fault-tolerant
    // production variant.
    val sets = hashedShingles(spark, dir)
      .select(col("doc_id"), col("lang"), col("t0"),
        sort_array(array_distinct(col("shh"))).as("sh"))
      .localCheckpoint(true)
    Skew.capBlocks(sets, Seq("lang", "t0"), maxBlock)
  }

  /** Prefix-filtered candidate pairs for [[ngramJaccard]] (the
    * distributed AllPairs/PPJoin shape): a pair with J ≥ t must share
    * at least one shingle among each side's (⌊(1−t)·|sh|⌋ + 1)
    * RAREST shingles under a global total order (prefix-filtering
    * principle — the smallest common element in that order falls in
    * both prefixes, else the overlap can't reach ⌈t·max(|a|,|b|)⌉).
    * Ordering rarest-first (ascending doc frequency, then hash) makes
    * the per-key posting lists small, so the candidate join is
    * output-bound instead of Σ block² — r6 measured the
    * old within-block cross join at 130 M candidates for 500 k docs
    * (quadratic once the ~16.5 k (lang, t0) blocks saturate) vs 10× in
    * docs for this plan. Result-identical: prefix filtering and the
    * PPJoin length filter only drop pairs that provably cannot reach
    * the threshold, so the exhaustive-within-block oracle is
    * unchanged. */
  def ngramJaccardCandidates(spark: SparkSession, dir: String,
                             threshold: Double = 0.2,
                             maxBlock: Int = MaxBlock): DataFrame =
    candidatesOf(blockedShingleSets(spark, dir, maxBlock), threshold)

  /** The prefix-filtered candidate join over an already-derived
    * blocked-shingle-set frame (so [[ngramJaccard]] shares ONE
    * derivation with its verify leg).
    *
    * r17: the prefix is selected IN-ROW. The prefix-filter theorem
    * holds for ANY global total order on shingles, and `sh` is already
    * sorted ascending by hash, so the (⌊(1−t)·|sh|⌋+1)-element prefix
    * is just `slice(sh, 1, L)` — no doc-frequency join and no
    * corpus-sized row_number sort exchange (the r16 verdict's slowest-
    * query item: the old join+window shape paid a groupBy(h) exchange,
    * a join exchange and a Window sort over the fully exploded shingle
    * stream). The old (df, h) rarest-first order made posting lists
    * smaller; measured on the probe corpora the hash-order candidate
    * growth is a small constant factor (before/after in
    * OPTIMIZATION_r17.md) while three exchanges disappear — and the
    * verify join already bounds per-candidate cost. Result-identical:
    * prefix filtering only drops pairs that provably cannot reach the
    * threshold, under either order. The +1e-9 guards the floor against
    * binary-fraction error in (1−t)·sz landing a hair UNDER an integer
    * — a too-short prefix would lose true pairs; a too-long one only
    * costs candidates. */
  private def candidatesOf(sets: DataFrame, threshold: Double): DataFrame = {
    val pre = sets.select(col("doc_id"), col("lang"), col("t0"),
      size(col("sh")).as("sz"),
      explode(slice(col("sh"), lit(1),
        (floor(lit(1.0 - threshold) * size(col("sh")) + lit(1e-9)) + lit(1))
          .cast("int"))).as("h"))
    pre.as("a").join(pre.as("b"),
        col("a.lang") === col("b.lang") && col("a.t0") === col("b.t0") &&
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      // length filter (PPJoin-style): J ≤ min/max of the set sizes, so
      // a pair with a size ratio below t cannot reach it — pruned
      // before the pair even reaches the verify join.
      .filter(least(col("a.sz"), col("b.sz")).cast("double") >=
        lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Blocked n-gram Jaccard near-dup pairs: candidate pairs share
    * (lang, first token); J = |∩|/|∪| over distinct *hashed* shingles
    * (set ops on longs, not strings — same hash on both engines).
    * Candidates come from the prefix-filtered join above; each is
    * verified with the exact merge-intersection. */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.2,
                   maxBlock: Int = MaxBlock): DataFrame = {
    // ONE shingle-set derivation (materialized inside
    // blockedShingleSets) feeds both the candidate leg and the two
    // verify joins — the r16 shape re-ran the tokenize+shingle-hash
    // scan and capBlocks' hot-key anti-join per consumer.
    val sets = blockedShingleSets(spark, dir, maxBlock)
    val sh = sets.select(col("doc_id"), col("sh"))
    candidatesOf(sets, threshold)
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("n_int", graft.functions.native.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("j", col("n_int") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_int")).cast("double"))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"), rnd(col("j"), 4).as("j"))
  }

  /** MinHash + LSH near-dup pairs: 8 bands × 2 rows; docs sharing any
    * band bucket become candidates; candidates are verified with exact
    * shingle Jaccard ≥ threshold. The only shuffle that touches the
    * full corpus is the explode-to-(band, key) groupBy. */
  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.5,
                 maxBucket: Int = MaxBucket,
                 stopDf: Option[Double] = None): DataFrame = {
    // ONE tokenize+shingle-hash corpus scan, materialized eagerly
    // (r17): the signature leg and the exact-Jaccard verify leg (and
    // in the stopDf branch, the doc-frequency legs) each re-ran the
    // kernel scan — with three declared queries riding this operator
    // (minhash_lsh, cluster_labels, source_matrix) that scan was the
    // single biggest repeated cost in the dedup family. Same
    // localCheckpoint fail-fast trade-off as the CC edge cache.
    val raw = hashedShingles(spark, dir)
      .select(col("doc_id"), col("shh"))
      .filter(size(col("shh")) > 0)
      .localCheckpoint(true)
    // optional doc-frequency stoplist: shingles present in more than
    // stopDf of all docs (boilerplate) carry no discriminating signal
    // and concentrate candidates — drop them before signatures. Off by
    // default (it changes results, so the verified oracle runs without)
    val hashed = stopDf.fold(raw) { f =>
      val nd = raw.agg(count(lit(1)).as("_nd"))
      val exploded = raw.select(col("doc_id"), explode(col("shh")).as("h"))
      val stops = exploded.groupBy("h")
        .agg(countDistinct("doc_id").as("df"))
        .crossJoin(broadcast(nd))
        .filter(col("df") > lit(f) * col("_nd"))
        .select("h")
      exploded.join(broadcast(stops), Seq("h"), "left_anti")
        .groupBy("doc_id").agg(collect_list("h").as("shh"))
    }
    val sigs = hashed.select(col("doc_id"),
      graft.functions.native.minhashSigs(col("shh"), perms, P).as("sig"))
    val banded = sigs.select(col("doc_id"), explode(array(
      (0 until NBands).map(bb =>
        struct(lit(bb).as("band"),
          (col("sig").getItem(2 * bb) * P + col("sig").getItem(2 * bb + 1)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
    // bucket-local pair expansion: the signature frame is computed once
    // (no self-join recompute); buckets are tiny so the i<j expansion is
    // cheap, and a skewed bucket degrades no worse than a self-join.
    val buckets = banded.groupBy("band", "key")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val cands = Skew.capBuckets(buckets, "ids", maxBucket)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i.cast("int") + 2, size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("pr"))
      .select(col("pr.id_a"), col("pr.id_b"))
      .distinct()
    val sh = hashed.select(col("doc_id"),
      sort_array(array_distinct(col("shh"))).as("sh"))
    cands
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_int", graft.functions.native.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("j", col("n_int") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_int")).cast("double"))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"), rnd(col("j"), 4).as("j"))
  }

  /** 62-bit SimHash fingerprint: token hash h64 = h31(t)·2³¹ + h131(t);
    * per-bit signed counts (with token multiplicity), sign → bit.
    * Integer group-sums keep it bit-identical with the oracle. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashFingerprints(spark, dir)
      .select(col("doc_id"), col("fp"), shiftright(col("fp"), 46).as("band"))

  /** (doc_id, fp) SimHash fingerprint frame shared by [[simhash]] and
    * [[simhashPairs]] — one codegen'd kernel call per row (asserted
    * equal to the relational explode×bits formulation in
    * FunctionsSpec; the oracle mirrors the relational form). */
  def simhashFingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.native.simhash62(tokens(col("text"))).as("fp"))

  /** SimHash near-dup pairs: docs sharing the 16-bit band prefix whose
    * fingerprints are within `maxHamming`. Bands larger than `maxBlock`
    * (default [[SimHashMaxBand]]) are dropped before the join — this
    * cap is PART OF THE OPERATOR'S SEMANTICS and mirrored in the oracle
    * SQL (approximate-by-cap), unlike the safety-net [[MaxBlock]] caps
    * whose oracles are uncapped.
    *
    * Candidate generation is MULTI-INDEX Hamming (the pigeonhole trick
    * of Manku et al.'s web-dedup SimHash paper): two same-band
    * fingerprints differ only in the 46 non-band bits, so a pair within
    * `maxHamming` must agree EXACTLY on at least one of `maxHamming+1`
    * disjoint chunks of those bits. Each row is replicated once per
    * chunk (linear) and the self-join keys on (band, chunk_idx,
    * chunk_value) instead of the band alone — a band of b docs costs
    * Σ occupancy² over its ~2⁷-way sub-buckets rather than b², which
    * flattened the measured 10× exponent (0.65 → sub-bucketed) while
    * computing the IDENTICAL pair set: the hamming predicate still
    * decides membership, the chunks only prune candidates, and the
    * verified oracle keeps the plain band self-join. */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 6,
                   maxBlock: Int = SimHashMaxBand): DataFrame = {
    // r17: one fingerprint-kernel corpus scan — capBlocks' hot-band
    // count and the (exchange-reused) self-join sides read the
    // checkpointed blocks instead of re-running the kernel
    val fp = Skew.capBlocks(
      simhashFingerprints(spark, dir)
        .select(col("doc_id"), col("fp"), shiftright(col("fp"), 46).as("band"))
        .localCheckpoint(true),
      Seq("band"), maxBlock)
    // maxHamming+1 disjoint chunks covering the low 46 bits, widths as
    // even as possible (7 chunks → 7,7,7,7,6,6,6 for the default). Past
    // ~12 chunks the sub-buckets are too narrow to prune and the
    // replication factor dominates, so permissive thresholds take the
    // plain band self-join instead — same pair set either way.
    val nChunks = maxHamming + 1
    val pairs =
      if (nChunks > 12)
        fp.as("a").join(fp.as("b"),
          col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      else {
        val widths = Seq.tabulate(nChunks)(i => 46 / nChunks + (if (i < 46 % nChunks) 1 else 0))
        val offsets = widths.scanLeft(0)(_ + _).init
        val chunkVals = offsets.zip(widths).map { case (off, w) =>
          shiftright(col("fp"), off).bitwiseAND(lit((1L << w) - 1))
        }
        // alias self-join → ReusedExchange: the fingerprint kernel and
        // the chunk explosion run once; both sides read the same
        // (band, ci, cv)-partitioned shuffle
        val ex = fp.select(col("doc_id"), col("fp"), col("band"),
          posexplode(array(chunkVals: _*)).as(Seq("ci", "cv")))
        ex.as("a").join(ex.as("b"),
          col("a.band") === col("b.band") && col("a.ci") === col("b.ci") &&
            col("a.cv") === col("b.cv") && col("a.doc_id") < col("b.doc_id"))
      }
    pairs
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("bit_count(a.fp ^ b.fp)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // a pair agreeing on several chunks surfaces once per chunk;
      // distinct runs on the (small) post-filter pair set
      .distinct()
  }

  /** Embedding-cosine near-dup pairs, blocked by cluster label (the
    * LSH-bucketed variant for unlabeled data is Ann.lshHyperplane). */
  def embeddingCosine(spark: SparkSession, dir: String, threshold: Double = 0.3,
                      maxBlock: Int = MaxBlock): DataFrame = {
    val e = Skew.capBlocks(
      Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("label"), col("embedding")),
      Seq("label"), maxBlock)
    // alias self-join → ReusedExchange (one scan feeds both sides)
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        col("a.embedding").as("va"), col("b.embedding").as("vb"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), rnd(col("cos"), 4).as("cos"))
  }

  /** Embedding near-dup pairs WITHOUT labels — the 100 TB path the
    * label-blocked [[embeddingCosine]] defers to: random-hyperplane LSH
    * bands bucket the vectors (one pass over the data, shuffle on the
    * bucket key only), bucket-local pair expansion for in-cap buckets,
    * star expansion for oversized ones (see
    * [[embeddingLshCandidates]] — nothing dropped, output linear in
    * bucket size), exact cosine verify ≥ threshold. No labels, no
    * all-pairs. */
  def embeddingLsh(spark: SparkSession, dir: String, threshold: Double = 0.4,
                   maxBucket: Int = MaxBucket): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    embeddingLshCandidates(spark, dir, maxBucket)
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("va")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("vb")), Seq("id_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), rnd(col("cos"), 4).as("cos"))
  }

  /** The banded-bucket candidate-pair stage of [[embeddingLsh]].
    *
    * Buckets within `maxBucket` enumerate all within-bucket pairs
    * (the oracle's semantics — bit-identical while nothing is capped,
    * which holds at every verify SF; Verify prints the contract line).
    * Buckets OVER the cap — dense duplicate clusters, exactly what
    * dedup must not lose — fall back to STAR EXPANSION instead of
    * being dropped (the r5 behavior, measured in r6: at 30× the x1
    * corpus 45 of 61 buckets exceeded the cap and the pair output
    * SHRANK 2.07M → 0.84M): each member links to the bucket's minimum
    * vec_id, c−1 edges instead of c(c−1)/2, computed with two
    * map-side-combined aggregations and broadcast joins of the (tiny,
    * ≤ rows/cap by construction) oversized-key set — no collect_list
    * row, no b² expansion, nothing dropped. Star edges preserve
    * within-bucket connectivity, which is what the downstream
    * [[connectedComponents]] dedup decision consumes; the cosine
    * re-rank then verifies each edge like any candidate. */
  def embeddingLshCandidates(spark: SparkSession, dir: String,
                             maxBucket: Int = MaxBucket): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val banded = e
      .withColumn("_sig", Ann.signature(col("embedding")))
      .select(col("vec_id"), explode(array(
        (0 until Ann.NBands).map(bb => struct(
          lit(bb).as("band"),
          shiftright(col("_sig"), Ann.BandBits * bb)
            .bitwiseAND((1 << Ann.BandBits) - 1).as("bkt"))): _*)).as("bk"))
      .select(col("vec_id"), col("bk.band"), col("bk.bkt"))
      // r17: three consumers (bucket expansion, oversized-key scan,
      // star expansion) each re-ran the signature kernel + band
      // explode over the corpus — materialize the narrow banded frame
      // once (same fail-fast localCheckpoint trade-off as CC's edges)
      .localCheckpoint(true)
    val buckets = banded.groupBy("band", "bkt")
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val smallPairs = Skew.capBuckets(buckets, "ids", maxBucket)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i.cast("int") + 2, size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("pr"))
      .select(col("pr.id_a"), col("pr.id_b"))
    val bigKeys = banded.groupBy("band", "bkt")
      .agg(count(lit(1)).as("_c"), min("vec_id").as("_rep"))
      .filter(col("_c") > maxBucket)
      .select("band", "bkt", "_rep")
    val starPairs = banded.join(broadcast(bigKeys), Seq("band", "bkt"))
      .filter(col("vec_id") =!= col("_rep"))
      .select(col("_rep").as("id_a"), col("vec_id").as("id_b"))
    smallPairs.unionByName(starPairs).distinct()
  }

  /** Connected components over a near-dup pair frame (id_a < id_b) —
    * the dedup DECISION step: pairs only say "these two are dups";
    * keeping one doc per transitive cluster needs the components.
    * Every node is labeled with the minimum doc_id reachable from it
    * (so the cluster representative = survivor is the smallest id).
    *
    * Scale shape: min-label propagation — per round one equi-join of
    * the edge list against the label frame and one min-groupBy (both
    * shuffle on node id, map-side combined), converging in
    * O(cluster diameter) rounds. Near-dup clusters are shallow in
    * practice (dup chains, not paths), so rounds ≈ 3-5; each round's
    * frame is persisted and the driver checks one scalar (changed
    * count) per round, exactly like Lloyd training. For adversarial
    * graphs the alternating large-star/small-star variant bounds
    * rounds at O(log n); the per-round plan here is the same shape. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          verbose: Boolean = false): DataFrame = {
    // Both edge directions from ONE scan of the pair frame: a
    // union(pairs, pairs.swapped) references the (potentially
    // expensive, unmaterialized) upstream pair subplan twice and
    // recomputes it both ways — with the LSH pipeline upstream that
    // doubled this operator's cost. explode keeps it single-scan.
    // Materialized via EAGER localCheckpoint, NOT `.persist()` (r16):
    // an InMemoryRelation is compiled WITHOUT adaptive execution
    // (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is
    // false by default), so the cached LSH+verify pipeline lost its
    // runtime broadcast conversions and ran once per cache partition —
    // r16 measured 12.1 s task time materializing the cache and
    // 8.5 s for the first groupBy over it, vs 0.05 s + 0.10 s for the
    // identical frame via localCheckpoint. Same semantics (edge rows
    // materialized once, loop reuses blocks), ~100× less CPU.
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(false)
    // each round's label frame is localCheckpoint'ed: the round plan
    // references the previous labels TWICE (directly + via the
    // neighbor-min join), so without plan truncation the logical plan
    // doubles per round — 2^rounds subtrees — and long chains OOM the
    // driver in plan processing alone. localCheckpoint materializes
    // the frame and cuts the plan (a durable `checkpoint` dir is the
    // fault-tolerant production variant; same semantics).
    // Init = the first propagation round fused into node discovery:
    // every node appears as src (edges are symmetric), so one groupBy
    // yields both the node set and its 1-hop min label — no separate
    // distinct shuffle, and shallow (diameter-1) clusters converge
    // with zero loop rounds. The edge frame above is already
    // materialized eagerly, so every round reads its blocks directly.
    // LAZY localCheckpoints in the loop (r17): the plan cut
    // (LogicalRDD) happens at construction either way; with lazy, the
    // per-round convergence count() is the action that materializes
    // the round's frame — ONE driver round-trip per round instead of
    // two (materialize + count), on a loop that JobProbe measured as
    // pure job-dispatch floor (17 jobs of 10–20 ms).
    var labels = edges.groupBy("src").agg(min(col("dst")).as("m"))
      .select(col("src").as("node"), least(col("src"), col("m")).as("label"))
      .localCheckpoint(false)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges.join(labels, edges("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
        .groupBy("node").agg(min("label").as("nbr"))
      val next = labels.select(col("node"), col("label").as("old"))
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"), least(col("old"), coalesce(col("nbr"), col("old"))).as("label"),
          col("old"))
        .localCheckpoint(false)
      val changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select("node", "label")
      converged = changed == 0
      iter += 1
      if (verbose) println(s"[cc] round=$iter changed=$changed")
    }
    labels
  }

  /** Verified query: transitive dup clusters of the MinHash-LSH pairs,
    * (doc_id, rep_id, is_survivor) per doc that appears in any pair. */
  def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashLsh(spark, dir).select("id_a", "id_b"))
      .select(col("node").as("doc_id"), col("label").as("rep_id"),
        when(col("node") === col("label"), 1L).otherwise(0L).as("is_survivor"))

  /** SemDeDup-style semantic dedup over the kNN GRAPH (Abbas et al.,
    * "SemDeDup", arXiv 2303.09540 — public method): near-dup discovery
    * rides the NN-Descent graph instead of LSH buckets — graph edges
    * with exact cosine ≥ threshold define clusters (connected
    * components), smallest id survives. Same output shape as
    * [[clusterLabels]]: (doc_id, rep_id, is_survivor) for every vector
    * in an above-threshold cluster.
    *
    * Why a third embedding-dedup path: [[embeddingCosine]] needs label
    * blocking, [[embeddingLsh]] re-buckets per run; the graph is the
    * reusable artifact — build it once ([[KnnGraph.docGraph]] memoizes
    * it per session), and the dedup pass is a threshold SCAN of the
    * edge table plus components over the tiny above-threshold
    * subgraph. No pair expansion, no labels, and
    * precision 1.0 by construction (every edge carries its exact
    * cosine). Recall is the graph's neighbor recall restricted to
    * above-threshold pairs — near-dups are their partners' top-1
    * neighbors, the regime where descent recall is highest
    * (KnnGraphSpec pins it vs the exact pair set). Caveat measured on
    * THIS corpus: the synthetic embeddings are near-random (max pair
    * cosine ≈0.5, no planted duplicate clusters), so every
    * "above-threshold" pair here is marginal — the adversarial case
    * for a kNN-graph dedup, since a marginal partner can rank below a
    * node's K-th neighbor. Real near-dups (cos→1) are their partners'
    * top-1 neighbors and don't have that failure mode. The default τ
    * sits at the top of this corpus's similarity range so the spec
    * measures the honest worst case. */
  def semanticGraph(spark: SparkSession, dir: String,
                    threshold: Double = 0.45,
                    edges: Option[DataFrame] = None): DataFrame = {
    val g = edges.getOrElse(KnnGraph.docGraph(spark, dir))
    // out-edges are directed; connectedComponents symmetrizes, so the
    // raw (src, dst) orientation is fine as-is
    val pairs = g.filter(col("score") >= threshold)
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("label").as("rep_id"),
        when(col("node") === col("label"), 1L).otherwise(0L).as("is_survivor"))
  }

  /** Benchmark decontamination (cross-corpus n-gram overlap): flag each
    * training doc that shares any word-3-gram shingle with the held-out
    * eval set — the standard contamination scan run before LLM
    * training. Here the "eval set" is the first `nEval` doc ids
    * standing in for a benchmark suite.
    *
    * Scale shape: the eval side is tiny by construction (benchmarks are
    * KBs against a 100 TB corpus), so its distinct shingle hashes are
    * broadcast; the training side is one explode + broadcast hash join
    * + map-side-combined groupBy — linear in corpus size, no shuffle of
    * the corpus, no self-join. */
  def crossCorpus(spark: SparkSession, dir: String, nEval: Long = 50): DataFrame = {
    val sh = hashedShingles(spark, dir)
      .select(col("doc_id"), explode(array_distinct(col("shh"))).as("h"))
    val evalSh = sh.filter(col("doc_id") < nEval).select("h").distinct()
    sh.filter(col("doc_id") >= nEval)
      .join(broadcast(evalSh), Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Cross-source duplication-leakage matrix — the data-mixture
    * diagnostic run before weighting corpus sources: for each
    * (unordered) source pair, the number of verified near-duplicate
    * doc pairs spanning them (diagonal entries = within-source dups).
    * A hot off-diagonal cell means two "independent" sources are
    * substantially the same crawl and their mixture weights
    * double-count it.
    *
    * Scale shape: the input is [[minhashLsh]]'s verified pair OUTPUT —
    * already bucketed/capped and orders of magnitude smaller than the
    * corpus — joined twice against the (doc_id, source) projection;
    * the matrix itself is at most sources², a constant. */
  def sourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir).select("id_a", "id_b")
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** Minimum duplicated-substring length in TOKENS for
    * [[spanCoverage]] — the ExactSubstr minimum-match-length knob
    * (Lee et al. 2021 use 50 BPE tokens on real corpora; 8 binds on
    * the short synthetic docs). */
  val SpanW = 8

  /** Per-doc duplicated-SPAN coverage — exact substring dedup at
    * sub-document granularity (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": the ExactSubstr
    * signal; the missing granularity between [[exact]]'s whole-doc
    * hash and [[Chunking.chunkDedup]]'s fixed-boundary chunks, and the
    * ref has no analog — reference dedup is whole-doc upsert only,
    * local_db/mock.py batch_upsert). A region of a doc is duplicated
    * when some ≥w-token window through it occurs at more than one
    * (doc, position) in the corpus; overlapping or adjacent duplicated
    * windows merge into maximal spans. Output: one row per affected
    * doc — span count, covered tokens, coverage fraction (the per-doc
    * gate an ExactSubstr-style scrub/filter applies).
    *
    * Spark-first shape (the original's suffix array is a single-node,
    * inherently sequential build; fixed-W rolling-window hashing is
    * the distributed equivalent, with W the minimum match length):
    * one corpus scan → native rolling window hashes (zero string
    * allocation) → posexplode to (doc, pos, h); duplicated hashes via
    * a map-side-combined groupBy(h); occurrences re-join on h (1:1
    * per occurrence — unlike the pair-expansion dedups there is NO
    * quadratic blow-up anywhere, a window repeated a million times
    * costs a million join rows, not 10¹² pairs, so no block cap is
    * needed); span merge is a per-DOC window (frames hold one doc's
    * duplicated positions, bounded by doc length, never the corpus);
    * two keyed groupBys finish. Linear in total token count. */
  def spanCoverage(spark: SparkSession, dir: String, w: Int = SpanW): DataFrame =
    spanCoverageOf(Tables.documents(spark, dir), w)

  /** The merged duplicated-span relation (doc_id, n_tokens, s, e) —
    * shared derivation of [[spanCoverageOf]] (stats) and
    * [[spanScrubOf]] (removal). */
  def spanFrame(docs: DataFrame, w: Int = SpanW): DataFrame = {
    // materialize=false, deliberately (r17, measured): the two
    // references to occ (dup groupBy + re-join) re-run the rolling-
    // hash kernel, but as pipelined stages they overlap across cores;
    // eagerly checkpointing occ SERIALIZES them behind the
    // materialization job and measured slower for text_dedup_span_scrub
    // (0.56→0.7+ s) and flat for dedup_span_coverage. The batch side
    // of spanIncremental (a 10% slice) keeps materialize=true where it
    // measured a small win.
    val occ = spanOcc(docs, w)
    val dup = occ.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("h")
    mergeIslands(occ.join(dup, Seq("h")), w)
  }

  /** (doc_id, n_tokens, pos, h): every w-token rolling-window hash
    * occurrence of a (doc_id, text) frame, 1-based positions.
    *
    * `materialize` (r17): consumers that reference the occurrence
    * stream more than once (the duplicated-hash groupBy AND the
    * re-join in [[spanFrame]]/[[spanIncremental]]) re-ran the
    * tokenize + rolling-hash kernel scan per reference; with
    * materialize=true the compact PRE-explode (doc_id, n_tokens,
    * hash-array) frame is eagerly localCheckpoint'ed once and each
    * consumer re-explodes from blocks (the explode is cheap; the
    * kernel is not). Single-use consumers (the incremental store
    * side) keep the pipelined form. Same fail-fast localCheckpoint
    * trade-off as the CC edge cache. */
  private def spanOcc(docs: DataFrame, w: Int,
                      materialize: Boolean = false): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).cast("long").as("n_tokens"),
        graft.functions.native.shingleHashes(col("_toks"), w).as("_shh"))
    (if (materialize) hashed.localCheckpoint(true) else hashed)
      .select(col("doc_id"), col("n_tokens"), posexplode(col("_shh")))
      .select(col("doc_id"), col("n_tokens"),
        (col("pos") + 1).as("pos"), col("col").as("h"))
  }

  /** Merge duplicated-window positions into maximal spans — per-DOC
    * window (frames bounded by doc length), gaps > w break islands. */
  private def mergeIslands(dupOcc: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    dupOcc
      .withColumn("_prev", lag("pos", 1).over(byDoc))
      .withColumn("island",
        sum(when(col("_prev").isNull || col("pos") - col("_prev") > w, 1L)
          .otherwise(0L)).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").as("s"), (max(col("pos")) + lit(w - 1)).as("e"),
        first("n_tokens").as("n_tokens"))
      .drop("island")
  }

  /** Batch-vs-corpus span dedup — the continuous-feed shape of
    * [[spanCoverage]] (the [[incremental]] contract at SPAN
    * granularity): an incoming batch (doc_id ≡ 0 mod 10, the
    * dedup_incremental convention) is checked for duplicated ≥w-token
    * spans against the EXISTING corpus's distinct window-hash store
    * PLUS itself, and reports per-batch-doc span coverage.
    *
    * Scale shape: at 100 TB the window-hash store is the persisted
    * artifact kept between runs (like the content-hash fingerprint
    * store) — the corpus contributes one distinct-hash set, never a
    * re-scan per batch, and everything downstream touches batch-sized
    * frames only. */
  def spanIncremental(spark: SparkSession, dir: String,
                      w: Int = SpanW): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val occB = spanOcc(docs.filter(pmod(col("doc_id"), lit(10L)) === 0), w,
      materialize = true)
    val store = spanOcc(docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0), w)
      .select("h").distinct()
    val dup = occB.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("h")
      .union(store).distinct()
    mergeIslands(occB.join(dup, Seq("h")), w)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"),
        first("n_tokens").as("n_tokens"))
      .withColumn("dup_frac", rnd(col("dup_tokens") / col("n_tokens")))
  }

  /** [[spanCoverage]] over any (doc_id, text) frame. */
  def spanCoverageOf(docs: DataFrame, w: Int = SpanW): DataFrame =
    spanFrame(docs, w)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"),
        first("n_tokens").as("n_tokens"))
      .withColumn("dup_frac", rnd(col("dup_tokens") / col("n_tokens")))

  /** Duplicated-span SCRUB — the removal step [[spanCoverage]]'s
    * signal feeds (Lee et al. 2021's dedup applied remove-ALL-wise:
    * every ≥w-token region that occurs more than once in the corpus is
    * dropped from every doc holding it; boilerplate and cross-doc
    * copies vanish, unique prose stays): each doc keeps exactly the
    * tokens no duplicated span covers. Verified by kept-token count +
    * hash of the scrubbed text (the piiScrub technique — both engines
    * must reassemble the identical byte string).
    *
    * Scale shape: [[spanFrame]]'s cost plus one collect_list of spans
    * per AFFECTED doc (bounded by doc length / w) joined LEFT back to
    * the corpus; the keep-filter is a per-row array op (token count ×
    * span count, both doc-bounded). Output is one row per doc. */
  def spanScrub(spark: SparkSession, dir: String, w: Int = SpanW): DataFrame =
    spanScrubOf(Tables.documents(spark, dir), w)

  /** [[spanScrub]] over any (doc_id, text) frame. */
  def spanScrubOf(docs: DataFrame, w: Int = SpanW): DataFrame = {
    val spans = spanFrame(docs, w)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    docs
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("_toks")).cast("long").as("n_tokens"),
        when(col("spans").isNull, col("_toks"))
          .otherwise(filter(col("_toks"), (_, i0) =>
            !exists(col("spans"), sp =>
              i0 + 1 >= sp.getField("s") && i0 + 1 <= sp.getField("e"))))
          .as("_kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("_kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("_kept")).cast("binary")).as("scrub_hash"))
  }

  /** (blocking name, max observed members, applicable cap) for every
    * capped blocking at the given sf dir. Most verified oracles are
    * UNCAPPED SQL, so oracle equality silently depends on every
    * observed block staying under its operator's cap — Verify calls
    * this and fails loudly if the contract is violated (ADVICE r2),
    * instead of surfacing as a confusing row-count diff. The simhash
    * band is the exception: its cap is mirrored in the oracle
    * (approximate-by-cap), so its entry carries cap = -1 and is
    * informational only. */
  def maxBlockSizes(spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    def maxCnt(df: DataFrame, keys: String*): Long =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
        .agg(max("c")).collect()(0).getLong(0)
    val simBands = simhashFingerprints(spark, dir)
      .select(shiftright(col("fp"), 46).as("band"))
    val ngramBlocks = hashedShingles(spark, dir).select(col("lang"), col("t0"))
    val labelBlocks = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 5 === 0).select(col("label"))
    val mhBuckets = {
      val sigs = hashedShingles(spark, dir)
        .select(col("doc_id"), col("shh")).filter(size(col("shh")) > 0)
        .select(col("doc_id"),
          graft.functions.native.minhashSigs(col("shh"), perms, P).as("sig"))
      sigs.select(col("doc_id"), explode(array(
        (0 until NBands).map(bb =>
          struct(lit(bb).as("band"),
            (col("sig").getItem(2 * bb) * P + col("sig").getItem(2 * bb + 1)).as("key"))): _*)).as("bk"))
        .select(col("bk.band"), col("bk.key"))
    }
    val lshBuckets = Tables.embeddings(spark, dir)
      .withColumn("_sig", Ann.signature(col("embedding")))
      .select(explode(array(
        (0 until Ann.NBands).map(bb => struct(
          lit(bb).as("band"),
          shiftright(col("_sig"), Ann.BandBits * bb)
            .bitwiseAND((1 << Ann.BandBits) - 1).as("bkt"))): _*)).as("bk"))
      .select(col("bk.band"), col("bk.bkt"))
    Seq(
      ("simhash_band", maxCnt(simBands, "band"), -1L),
      ("ngram_lang_t0", maxCnt(ngramBlocks, "lang", "t0"), MaxBlock.toLong),
      ("embedding_label", maxCnt(labelBlocks, "label"), MaxBlock.toLong),
      ("minhash_bucket", maxCnt(mhBuckets, "band", "key"), MaxBucket.toLong),
      // cap -1 = mirrored in the oracle SQL (star expansion branch),
      // like the simhash band cap — exceeding it is defined behavior
      ("embedding_lsh_bucket", maxCnt(lshBuckets, "band", "bkt"), -1L))
  }

  object SqlOracle {
    private val docShingles =
      s"""(SELECT doc_id, lang, toks[1] AS t0,
         |   [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)] AS sh
         | FROM (SELECT doc_id, lang, ${S.tokens("text")} AS toks FROM documents))""".stripMargin

    val exact: String =
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS cnt
        |FROM documents GROUP BY content_hash""".stripMargin

    val incremental: String =
      """WITH inc AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0),
        |store AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0),
        |s AS (SELECT h, min(doc_id) AS survivor_id FROM inc GROUP BY h)
        |SELECT inc.doc_id,
        |  CASE WHEN store.h IS NOT NULL THEN 'corpus_dup'
        |       WHEN inc.doc_id <> s.survivor_id THEN 'batch_dup'
        |       ELSE 'new' END AS status,
        |  s.survivor_id
        |FROM inc LEFT JOIN store ON inc.h = store.h JOIN s ON inc.h = s.h""".stripMargin

    def ngramJaccard(threshold: Double = 0.2): String =
      s"""WITH d AS (SELECT doc_id, lang, t0,
         |  list_distinct([${S.polyHash("s")} for s in sh]) AS sh FROM $docShingles)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, (floor((j) * 1e4 + 0.5e0) / 1e4) AS j
         |FROM d a JOIN d b ON a.lang = b.lang AND a.t0 = b.t0 AND a.doc_id < b.doc_id,
         |LATERAL (SELECT CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS BIGINT) /
         |  CAST(len(a.sh) + len(b.sh) - len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) AS j) l
         |WHERE j >= $threshold""".stripMargin

    def minhashLsh(threshold: Double = 0.5): String = {
      val mh = perms.zipWithIndex.map { case ((a, b), i) =>
        s"list_reduce(list_prepend(${Long.MaxValue}, " +
          s"[(${S.polyHash("s")} * $a + $b) % $P for s in sh]), " +
          s"(m, x) -> least(m, x)) AS mh_$i"
      }.mkString(",\n    ")
      val bands = (0 until NBands).map(bb =>
        s"(SELECT doc_id, $bb AS band, mh_${2 * bb} * $P + mh_${2 * bb + 1} AS key FROM m)")
        .mkString("\n  UNION ALL ")
      s"""WITH ds AS (SELECT doc_id, sh FROM (SELECT doc_id, lang, t0, sh FROM $docShingles) WHERE len(sh) > 0),
         |m AS (SELECT doc_id,
         |    $mh
         |  FROM ds),
         |banded AS (
         |  $bands),
         |cands AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
         |shd AS (SELECT doc_id,
         |  list_distinct([${S.polyHash("s")} for s in sh]) AS sh FROM $docShingles)
         |SELECT id_a, id_b, (floor((j) * 1e4 + 0.5e0) / 1e4) AS j
         |FROM cands
         |JOIN shd a ON a.doc_id = id_a
         |JOIN shd b ON b.doc_id = id_b,
         |LATERAL (SELECT CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS BIGINT) /
         |  CAST(len(a.sh) + len(b.sh) - len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) AS j) l
         |WHERE j >= $threshold""".stripMargin
    }

    /** Transitive closure via a recursive CTE: `reach` saturates to all
      * (node, reachable) pairs inside each cluster (UNION dedups, so it
      * terminates; near-dup clusters are tiny, so the closure is too),
      * then the label is min(reachable). */
    def clusterLabels(threshold: Double = 0.5): String =
      s"""WITH RECURSIVE pairs AS (
         |  SELECT id_a, id_b FROM (
         |${minhashLsh(threshold)}) mh),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, r) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src)
         |SELECT node AS doc_id, min(r) AS rep_id,
         |  CAST(CASE WHEN node = min(r) THEN 1 ELSE 0 END AS BIGINT) AS is_survivor
         |FROM reach GROUP BY node""".stripMargin

    /** Mirrors [[Dedup.sourceMatrix]] over the same minhash pair set. */
    def sourceMatrix(threshold: Double = 0.5): String =
      s"""WITH mh AS (SELECT id_a, id_b FROM (
         |${minhashLsh(threshold)}) t_mh),
         |d AS (SELECT doc_id, source FROM documents)
         |SELECT least(a.source, b.source) AS src_a,
         |  greatest(a.source, b.source) AS src_b, count(*) AS n_pairs
         |FROM mh JOIN d a ON a.doc_id = mh.id_a JOIN d b ON b.doc_id = mh.id_b
         |GROUP BY 1, 2""".stripMargin

    def crossCorpus(nEval: Long = 50): String =
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct([${S.polyHash("s")} for s in sh])) AS h
         |  FROM $docShingles),
         |ev AS (SELECT DISTINCT h FROM sh WHERE doc_id < $nEval)
         |SELECT doc_id, count(*) AS n_hits
         |FROM sh JOIN ev USING (h)
         |WHERE doc_id >= $nEval
         |GROUP BY doc_id""".stripMargin

    val simhash: String =
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${S.tokens("text")}) AS tok FROM documents),
         |h AS (SELECT doc_id,
         |    ${S.polyHash("tok", 31)} * 2147483648 + ${S.polyHash("tok", 131)} AS h64
         |  FROM tok),
         |bits AS (
         |  SELECT doc_id, j, sum(2 * ((h64 >> j) & 1) - 1) AS s
         |  FROM h CROSS JOIN (SELECT unnest(range(62)) AS j)
         |  GROUP BY doc_id, j)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) >> 46 AS band
         |FROM bits GROUP BY doc_id""".stripMargin

    private val fpCte: String =
      s"""tok AS (
         |  SELECT doc_id, unnest(${S.tokens("text")}) AS tok FROM documents),
         |h AS (SELECT doc_id,
         |    ${S.polyHash("tok", 31)} * 2147483648 + ${S.polyHash("tok", 131)} AS h64
         |  FROM tok),
         |bits AS (
         |  SELECT doc_id, j, sum(2 * ((h64 >> j) & 1) - 1) AS s
         |  FROM h CROSS JOIN (SELECT unnest(range(62)) AS j)
         |  GROUP BY doc_id, j),
         |fp AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS fp
         |  FROM bits GROUP BY doc_id)""".stripMargin

    /** Mirrors the [[Dedup.SimHashMaxBand]] cap: oversized bands are
      * excluded by definition (approximate-by-cap semantics). */
    def simhashPairs(maxHamming: Int = 6,
                     maxBand: Int = SimHashMaxBand): String =
      s"""WITH $fpCte,
         |bst AS (SELECT fp >> 46 AS band, count(*) AS bsz FROM fp GROUP BY band)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b
         |  ON (a.fp >> 46) = (b.fp >> 46) AND a.doc_id < b.doc_id
         |JOIN bst ON bst.band = (a.fp >> 46)
         |WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming AND bst.bsz <= $maxBand""".stripMargin

    /** Mirrors [[Dedup.embeddingLshCandidates]]'s bucket cap EXACTLY,
      * including the star-expansion fallback: buckets ≤ `maxBucket`
      * enumerate all within-bucket pairs; oversized buckets emit
      * (min vec_id → member) star edges instead. Identical to the
      * uncapped SQL while every bucket is under the cap (all driver
      * SFs) — the sf1.0 decade-up crosscheck is where the star branch
      * first carries rows (max bucket 4105 observed there). */
    def embeddingLsh(threshold: Double = 0.4,
                     maxBucket: Int = MaxBucket): String =
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |sg AS (SELECT vec_id, ${Ann.SqlOracle.sigExpr("embedding")} AS sig FROM e),
         |b AS (
         |  SELECT vec_id, band,
         |    (sig >> (${Ann.BandBits} * band)) & ${(1 << Ann.BandBits) - 1} AS bkt
         |  FROM sg CROSS JOIN (SELECT unnest(range(${Ann.NBands})) AS band)),
         |bsz AS (
         |  SELECT band, bkt, count(*) AS c, min(vec_id) AS rep
         |  FROM b GROUP BY band, bkt),
         |cands AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT x.vec_id AS id_a, y.vec_id AS id_b
         |    FROM b x JOIN b y
         |      ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id
         |    JOIN bsz ON bsz.band = x.band AND bsz.bkt = x.bkt
         |    WHERE bsz.c <= $maxBucket
         |    UNION ALL
         |    SELECT bsz.rep AS id_a, b.vec_id AS id_b
         |    FROM b JOIN bsz ON bsz.band = b.band AND bsz.bkt = b.bkt
         |    WHERE bsz.c > $maxBucket AND b.vec_id <> bsz.rep) u),
         |s AS (
         |  SELECT id_a, id_b, ${S.cosine("a.embedding", "b.embedding", VectorCore.Dim)} AS c
         |  FROM cands JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b)
         |SELECT id_a, id_b, ${S.rnd("c", 4)} AS cos
         |FROM s WHERE c >= $threshold""".stripMargin

    /** Shared CTE chain deriving the merged duplicated-span relation
      * `sp(doc_id, s, e, n_tokens)` — the window hash is polyHash of
      * the space-joined w-token slice, byte-for-byte the native
      * kernel's rolling hash (Kernels.shingleHashes folds a single
      * space between tokens). */
    private def spanCtes(w: Int): String =
      s"""t AS (SELECT doc_id, ${S.tokens("text")} AS toks FROM documents),
         |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
         |      FROM t WHERE len(toks) >= $w),
         |occ AS (SELECT doc_id, n_tokens, toks,
         |    unnest(generate_series(1, CAST(n_tokens AS INTEGER) - ${w - 1})) AS pos
         |  FROM d),
         |och AS (SELECT doc_id, n_tokens, pos,
         |    ${S.polyHash(s"array_to_string(toks[pos : pos + ${w - 1}], ' ')")} AS h
         |  FROM occ),
         |dh AS (SELECT h FROM och GROUP BY h HAVING count(*) > 1),
         |docc AS (SELECT doc_id, n_tokens, pos FROM och JOIN dh USING (h)),
         |lagd AS (SELECT doc_id, n_tokens, pos,
         |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM docc),
         |isl AS (SELECT doc_id, n_tokens, pos,
         |    sum(CASE WHEN prev IS NULL OR pos - prev > $w THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM lagd),
         |sp AS (SELECT doc_id, island, min(pos) AS s, max(pos) + ${w - 1} AS e,
         |    any_value(n_tokens) AS n_tokens FROM isl GROUP BY doc_id, island)""".stripMargin

    /** Mirror of [[Dedup.spanCoverage]]. */
    def spanCoverage(w: Int = SpanW): String =
      s"""WITH ${spanCtes(w)}
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
         |  any_value(n_tokens) AS n_tokens,
         |  ${S.rnd("CAST(sum(e - s + 1) AS DOUBLE) / any_value(n_tokens)", 4)} AS dup_frac
         |FROM sp GROUP BY doc_id""".stripMargin

    /** Mirror of [[Dedup.spanIncremental]]: batch windows duplicated
      * within the batch or present in the corpus-rest distinct-hash
      * store, merged and reported exactly like spanCoverage. */
    def spanIncremental(w: Int = SpanW): String =
      s"""WITH t AS (SELECT doc_id, ${S.tokens("text")} AS toks FROM documents),
         |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
         |      FROM t WHERE len(toks) >= $w),
         |och AS (SELECT doc_id, n_tokens,
         |    unnest(generate_series(1, CAST(n_tokens AS INTEGER) - ${w - 1})) AS pos, toks
         |  FROM d),
         |oh AS (SELECT doc_id, n_tokens, pos,
         |    ${S.polyHash(s"array_to_string(toks[pos : pos + ${w - 1}], ' ')")} AS h
         |  FROM och),
         |bocc AS (SELECT * FROM oh WHERE doc_id % 10 = 0),
         |store AS (SELECT DISTINCT h FROM oh WHERE doc_id % 10 <> 0),
         |dh AS (SELECT h FROM bocc GROUP BY h HAVING count(*) > 1
         |       UNION SELECT h FROM store),
         |docc AS (SELECT doc_id, n_tokens, pos FROM bocc JOIN dh USING (h)),
         |lagd AS (SELECT doc_id, n_tokens, pos,
         |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM docc),
         |isl AS (SELECT doc_id, n_tokens, pos,
         |    sum(CASE WHEN prev IS NULL OR pos - prev > $w THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM lagd),
         |sp AS (SELECT doc_id, island, min(pos) AS s, max(pos) + ${w - 1} AS e,
         |    any_value(n_tokens) AS n_tokens FROM isl GROUP BY doc_id, island)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
         |  any_value(n_tokens) AS n_tokens,
         |  ${S.rnd("CAST(sum(e - s + 1) AS DOUBLE) / any_value(n_tokens)", 4)} AS dup_frac
         |FROM sp GROUP BY doc_id""".stripMargin

    /** Mirror of [[Dedup.spanScrub]]: positions anti-joined to the
      * span ranges (merged islands are disjoint and non-adjacent, so
      * each position matches at most one span), scrubbed text
      * reassembled in position order. */
    def spanScrub(w: Int = SpanW): String =
      s"""WITH ${spanCtes(w)},
         |pt AS (SELECT doc_id, toks,
         |    unnest(generate_series(1, CAST(len(toks) AS INTEGER))) AS i FROM t),
         |kept AS (SELECT pt.doc_id, pt.i, pt.toks[pt.i] AS tok
         |  FROM pt LEFT JOIN sp
         |    ON pt.doc_id = sp.doc_id AND pt.i BETWEEN sp.s AND sp.e
         |  WHERE sp.doc_id IS NULL),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY i) AS s2 FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  md5(COALESCE(a.s2, '')) AS scrub_hash
         |FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id""".stripMargin

    def embeddingCosine(threshold: Double = 0.3): String =
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 5 = 0),
         |p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    a.embedding AS va, b.embedding AS vb
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
         |s AS (SELECT id_a, id_b, ${S.cosine("va", "vb", VectorCore.Dim)} AS c FROM p)
         |SELECT id_a, id_b, ${S.rnd("c", 4)} AS cos
         |FROM s WHERE c >= $threshold""".stripMargin
  }
}
