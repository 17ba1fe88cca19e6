package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Deduplication operators over the `documents` table: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine.
  *
  * Scale notes (100 TB): no operator does an unblocked n² comparison.
  * Candidate pairs always come from an equi-join on a blocking key
  * (content hash, LSH band hash, SimHash chunk, source bucket, label
  * bucket), so the only wide operation is a shuffle on that key and
  * the quadratic work is confined to within-bucket verification.
  */
object Dedup {

  /** Exact dedup: md5 over normalized text as the content key, keep
    * the lowest doc_id per group. One shuffle on the hash.
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("content_hash", md5(lower(trim($"text"))))
      .groupBy($"content_hash")
      .agg(min($"doc_id").as("keep_doc_id"),
           count(lit(1)).as("n_docs"))
  }

  private def withWordSet(df: DataFrame): DataFrame =
    df.withColumn("wset", expr("array_distinct(split(trim(text), ' +'))"))

  /** Exact word-set Jaccard near-dup pairs (τ ≥ 0.9), candidates
    * from AllPairs PREFIX FILTERING (Chaudhuri et al. ICDE'06 /
    * Bayardo et al. WWW'07 / PPJoin shape). The oracle-checkable
    * exact variant; [[dedupMinhash]] is the scalable approximation of
    * the same predicate.
    *
    * Prefix-filter principle: under any global token order, if
    * |A∩B| ≥ α then the (|A|−α+1)-prefixes of A and B share a token.
    * J ≥ 0.9 implies overlap ≥ ⌈0.9·max(|A|,|B|)⌉ ≥ ⌈0.9·|X|⌉ for
    * each side, so indexing only each doc's (s − ⌈0.9s⌉ + 1) RAREST
    * tokens (≈10% of the set, df-ascending order) and equi-joining on
    * (source, prefix-token) finds every qualifying pair — lossless.
    * ⌈0.9s⌉ is computed as (9s+9) div 10 in integer arithmetic: the
    * float 0.9·s overshoots at multiples of 10 (0.9·10 → 9.0000…02,
    * ceil → 10) and a one-off-short prefix silently drops pairs.
    *
    * Scale story: a size-bucket second key (the round-1→5 design)
    * keeps blocks Σ|bucket|² in docs-per-(source × size band), which
    * the sf1 scaling bench measured going quadratic (90× time at 10×
    * data — length is a weak discriminator: real corpora repeat doc
    * lengths endlessly). Rare-token prefixes discriminate by CONTENT:
    * candidate buckets are per (source, token) with population ~ df
    * of the token among doc-prefixes, and the verify step only runs
    * on distinct candidate id-pairs, rejoining word sets by doc id.
    * The cost moved to three linear shuffles (df count, per-doc
    * prefix assembly, candidate/verify joins) — the standard
    * similarity-join trade. The [[graft.plans.JaccardLengthPruning]]
    * rule still injects the size prefilter ahead of each merge scan.
    *
    * Caveat (measured, re-measured at sf10): when the vocabulary is
    * tiny relative to the corpus (the synthetic test corpus draws
    * from ~31 words; word-set sizes span just 6–31), NO lossless
    * blocking discriminates — every "rare" token still has df ≈
    * N/vocab and candidates degenerate toward within-source
    * all-pairs for any scheme. At sf10 that is 224M candidate-join
    * rows for a 4.8M-pair output (output itself exactly linear, 10×
    * sf1's 482k pairs), the whole 29.6× decade ratio in the r09
    * scaling bench. The alternatives were measured, not guessed:
    * an AllPairs length-bucket JOIN KEY (log-width 10/9, adjacent-
    * bucket probe) cuts candidates only 1.9× here because sizes
    * span 16 near-uniform buckets — while tripling one join side;
    * reverted. Identical-set collapse (dedupe exact word sets to
    * representatives before the candidate join, the standard
    * exact-before-fuzzy production trick) was also measured and
    * rejected: 92–97% of documents have DISTINCT (source, word-set)
    * at sf0.01/sf0.1 — the near-dup clusters are distinct-but-
    * similar sets, so the collapse shrinks the candidate stage <10%.
    * Prefix filtering wins 10× on natural Zipfian
    * vocabularies (sf1 scaling bench: 154 s → 14.6 s) and is the
    * right production algorithm; a corpus that defeats ALL content
    * blocking is served by the linear-output decision twins
    * [[dedupMinhash]]/[[dedupComponents]] (2.7×/3.1× at the same
    * decade).
    */
  def dedupNgram(spark: SparkSession, sfDir: String): DataFrame =
    ngramPairs(Tables.documents(spark, sfDir), 9000)

  /** sf10 correctness gate for [[dedupNgram]]'s machinery: the same
    * EXACT pipeline over a deterministic doc_id slice
    * (doc_id % 16 = 0). Exactness makes the slice CLOSED — a
    * qualifying pair of sliced docs appears in the sliced output iff
    * it appears in the full output (spec-asserted), so hash-matching
    * this key exercises the full blocking + verify path (prefix
    * order, mask/merge-scan verify, the int→double division) at sf10
    * scale where the full oracle is structurally intractable
    * (6.25e9 within-source pairwise intersections, r09 datum; the
    * slice's 97.6M replay in DuckDB measured ~4 min, r17 pricing).
    * This is the recallAuditSliceMod device applied to the one
    * remaining structural sf10 exclusion.
    */
  def dedupNgramSlice(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ngramPairs(Tables.documents(spark, sfDir)
      .filter($"doc_id" % 16 === 0), 9000)
  }

  /** Threshold-parametric core of [[dedupNgram]] (τ = tBp/10000):
    * identical machinery, generalized prefix length s − ⌈τ·s⌉ + 1 and
    * size filter min ≥ τ·max (at tBp = 9000 both reduce exactly to the
    * hard-coded 0.9 forms — ⌊(9s+9)/10⌋ = ⌈9s/10⌉ =
    * ⌊(9000s+9999)/10000⌋). [[dedupRecallEval]] uses τ = 0.7 to build
    * the ground-truth pair set its blocking-recall audit scores
    * against.
    */
  private[graft] def ngramPairs(docs: DataFrame, tBp: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tau = tBp / 10000.0
    val d = withWordSet(docs)
      // sort once per doc so the pairwise step is a merge scan
      .select($"doc_id", $"source", array_sort($"wset").as("wset"))
    // global document frequency = the AllPairs canonical token order
    // (rarest-first prefixes minimize candidate bucket population);
    // ties broken by token string so the order is total and stable.
    // Materialized once (persist + count) because the vocabulary SIZE
    // picks the execution path below; both paths then reuse the cached
    // relation (vocab-sized — even a web corpus's distinct-token table
    // is ~1e7 rows, trivially cacheable). Reclaimed by the caller's
    // clearCache like the other pinned band relations.
    val tokenDf = d.select(explode($"wset").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("df"))
      .persist()
    // Degenerate-vocabulary guardrail (round-9 scaling disposition,
    // history/SCALING_NOTES_r09.md): when the corpus vocabulary is tiny, every
    // token's df ≈ N/|vocab| and prefix filtering stops discriminating —
    // the candidate join degenerates toward within-source all-pairs
    // (224M joined rows at sf10, 25% of the whole bench). No candidate
    // SCHEME fixes that (length buckets: 1.9×, measured; LSH bands catch
    // the corpus's quadratic J≥0.8 background mass AND miss ~1% of
    // borderline true pairs — measured worse on both axes). What CAN
    // collapse is the cost per candidate: with a bounded vocabulary a
    // word set is a fixed-width bitmask, Jaccard is a popcount loop
    // ([[org.apache.spark.sql.graft.MaskJaccard]]), and verification
    // runs INLINE in the candidate join — no ids-only distinct shuffle
    // of the quadratic candidate stream and, decisively, no rejoining
    // the corpus twice to fetch ~300-byte word-set arrays per candidate
    // pair (the measured dominant cost of the merge-scan verify at
    // sf10). Output is bit-identical to the merge-scan path (same
    // prefix blocking, same int→double division). Natural corpora
    // (vocab ≫ 4096) take the prefix+merge-scan path below, where
    // prefix filtering is the measured 10× win and masks would be
    // corpus-width bitsets.
    // spark.graft.ngram.maskVocabMax: vocab-size cutoff for the mask
    // path (≤4096 = ≤64 mask words; 0 disables — the plan-audit specs
    // use that to pin the merge-scan plan shape)
    val maskVocabMax = spark.conf
      .get("spark.graft.ngram.maskVocabMax", "4096").toInt
    val nVocab = tokenDf.count()
    if (nVocab <= math.min(maskVocabMax, 4096)) {
      ngramPairsBitmask(d, tokenDf, ((nVocab + 63) / 64).toInt, tBp)
    } else {
      val (r, cands) = prefixCandidates(d, tokenDf, tBp)
      cands
        .join(r.select($"doc_id".as("doc_id_1"), $"wset".as("w1")),
          Seq("doc_id_1"))
        .join(r.select($"doc_id".as("doc_id_2"), $"wset".as("w2")),
          Seq("doc_id_2"))
        .withColumn("jaccard", graft.functions.sortedJaccard($"w1", $"w2"))
        .filter($"jaccard" >= lit(tau))
        .select($"doc_id_1", $"doc_id_2", round($"jaccard", 4).as("jaccard"))
    }
  }

  /** Small-vocabulary exact path of [[dedupNgram]]: identical prefix
    * blocking (df-ascending canonical order, same ⌈0.9s⌉ prefix
    * length), but word sets ride as fixed-width `array<long>` bitmasks
    * (width = ⌈vocab/64⌉ words, ≤64) so the verify step is a popcount
    * loop fused into the candidate join stage. The quadratic candidate
    * stream is never shuffled (no ids-only distinct, no wset rejoins);
    * only the accepted pairs (linear in output, ≤ prefix-length
    * multiplicity) reach the final distinct.
    */
  private def ngramPairsBitmask(
      d: DataFrame, tokenDf: DataFrame, width: Int, tBp: Int): DataFrame = {
    import d.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val tau = tBp / 10000.0
    // bit i = the token at rank i of the same (df, tok) total order the
    // prefix path uses; ≤4096 rows, so the single-partition window is a
    // driver-scale sort, not a scale hazard (guarded by the branch)
    val idx = tokenDf.select($"tok", $"df",
      (row_number().over(Window.orderBy($"df", $"tok")) - 1).as("bit"))
    val docs = d.select($"doc_id", $"source", explode($"wset").as("tok"))
      .join(broadcast(idx), Seq("tok"))
      .groupBy($"doc_id", $"source")
      // wset is distinct so the bits are distinct; (df, bit) sorts
      // identically to (df, tok) because bit IS the rank of (df, tok) —
      // same canonical prefix as the array path
      .agg(collect_list($"bit".cast("int")).as("bits"),
           count(lit(1)).cast("int").as("s"),
           array_sort(collect_list(struct($"df", $"bit"))).as("byRarity"))
      .select($"doc_id", $"source",
        graft.functions.bitsToMask($"bits", width).as("mask"), $"s",
        expr("transform(slice(byRarity, 1, " +
          s"cast(s - (($tBp*s + 9999) div 10000) + 1 as int)), x -> x.bit)")
          .as("pbits"))
      .persist() // two join sides below; reclaimed by caller's clearCache
    val a = docs.select($"source", explode($"pbits").as("pb"),
      $"doc_id".as("doc_id_1"), $"mask".as("m1"), $"s".as("s1"))
    val b = docs.select($"source", explode($"pbits").as("pb"),
      $"doc_id".as("doc_id_2"), $"mask".as("m2"), $"s".as("s2"))
    a.join(b, Seq("source", "pb"))
      .filter($"doc_id_1" < $"doc_id_2" &&
              least($"s1", $"s2").cast("double") >=
                lit(tau) * greatest($"s1", $"s2"))
      // same int/int→double division as SortedJaccard — bit-identical
      .withColumn("jaccard", graft.functions.maskJaccard($"m1", $"m2"))
      .filter($"jaccard" >= lit(tau))
      .select($"doc_id_1", $"doc_id_2", round($"jaccard", 4).as("jaccard"))
      .distinct()
  }

  private def prefixCandidates(
      d: DataFrame, tokenDf: DataFrame, tBp: Int): (DataFrame, DataFrame) = {
    import d.sparkSession.implicits._
    val tau = tBp / 10000.0
    val prefixes = d.select($"doc_id", explode($"wset").as("tok"))
      .join(tokenDf, Seq("tok"))
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"df", $"tok"))).as("byRarity"),
           count(lit(1)).as("s"))
      .select($"doc_id", expr(
        "transform(slice(byRarity, 1, " +
          s"cast(s - (($tBp*s + 9999) div 10000) + 1 as int)), x -> x.tok)")
        .as("prefix"))
    // 4 downstream references (two candidate sides, two verify
    // rejoins) — pin it once, the minhash-band pattern (reclaimed by
    // the caller's clearCache, like the other pinned band relations)
    val r = d.join(prefixes, Seq("doc_id")).persist()
    val a = r.select($"source", explode($"prefix").as("tok"),
      $"doc_id".as("doc_id_1"), size($"wset").as("s1"))
    val b = r.select($"source", explode($"prefix").as("tok"),
      $"doc_id".as("doc_id_2"), size($"wset").as("s2"))
    // distinct BEFORE the merge-scan verify: a pair sharing k prefix
    // tokens surfaces k times, and verifying each copy would multiply
    // the expensive step; ids-only distinct is the cheap one. The
    // size-ratio conjunct (implied by j ≥ 0.9: min ≥ 0.9·max) culls
    // size-incompatible candidates before they even reach the
    // distinct's shuffle — the AllPairs length filter applied at
    // candidate time, not just at verify time
    val cands = a.join(b, Seq("source", "tok"))
      .filter($"doc_id_1" < $"doc_id_2" &&
              least($"s1", $"s2").cast("double") >=
                lit(tau) * greatest($"s1", $"s2"))
      .select($"doc_id_1", $"doc_id_2").distinct()
    (r, cands)
  }

  /** (doc_id, band_idx, band_hash) minhash LSH band relation — the
    * shared blocking structure behind [[dedupMinhash]] (2-hop
    * min-propagation) and [[dedupComponents]] (exact fixpoint).
    */
  private[graft] def minhashBands(docs: DataFrame,
                                  keep: Seq[String] = Nil): DataFrame = {
    import docs.sparkSession.implicits._
    // EXPLODE the band index BEFORE hashing: a `transform(sequence…)`
    // lambda is interpreted, and CollapseProject re-inlines the `sig`
    // subexpression into the lambda body — the 64-slot signature was
    // silently recomputed per band element (measured 15.5 s of a
    // 19.2 s sf1 run in this one projection). Generate is a collapse
    // barrier, so below it `sig` evaluates once per doc; the per-band
    // md5 then runs on the exploded rows (8 cheap rows/doc).
    // `keep` columns ride the Generate instead of being joined back on
    // (a corpus-sized shuffle saved for provenance-style consumers).
    withWordSet(docs)
      .withColumn("sig", graft.functions.minhashSigMd5($"wset", 64))
      .select(($"doc_id" +: keep.map(col)) ++ Seq($"sig",
        posexplode(expr("sequence(0, 7)")).as(Seq("band_idx", "_b"))): _*)
      .withColumn("band_hash", expr(
        "graft_md5lower64(array_join(transform(" +
          "slice(sig, cast(band_idx*8+1 as int), 8), " +
          "x -> cast(x as string)), ','))"))
      .select(($"doc_id" +: keep.map(col)) ++
        Seq($"band_idx", $"band_hash"): _*)
  }

  /** MinHash + LSH near-dup dedup (Broder '97 / MMDS ch.3 shape):
    * 64 minhash slots from the Kirsch–Mitzenmacher family h_i =
    * (h1 + i·h2) mod 2⁶⁴ masked to 63 bits, where h1/h2 are the two
    * md5 digest halves of the word (each word digested ONCE, not 64
    * times) — the md5 base pair makes the full signature → band →
    * bucket → min-propagation pipeline replayable by the DuckDB
    * oracle (`md5_number_lower`/`_upper` + HUGEINT mod arithmetic),
    * unlike xxhash64, which is Spark-only. Banded 8×8 (LSH threshold
    * (1/8)^(1/8) ≈ 0.77); band key = md5-lower-64 of the joined
    * 8-slot slice, so band buckets shuffle as longs, not strings.
    *
    * Output is a keep-one *dedup decision* per document (cluster
    * representative = min doc_id reachable through shared LSH
    * buckets, two min-propagation hops), not the pairwise near-dup
    * list: on a corpus with large near-identical clusters the pair
    * set is quadratic in cluster size, while the decision output and
    * every shuffle here stay linear — the shape that survives 100 TB.
    * (The bounded pairwise variants live in [[dedupNgram]] /
    * [[dedupSimhash]].)
    */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the band relation feeds every min-propagation hop (5 subtree
    // references) — persist it once instead of re-hashing the corpus
    // per reference (the standard iterative-graph pattern: pin the
    // edge set, iterate over it)
    val bands = minhashBands(Tables.documents(spark, sfDir))
      .persist()
    // approximate connected components: propagate the min doc_id
    // through shared buckets (doc → bucket → doc), twice. Hop 1 is
    // unrolled: its rep map is the identity, so the bucket minimum is
    // just min(doc_id) per bucket — aggregating the band relation
    // directly saves the identity-join and the dropDuplicates shuffle
    // a generic fold would pay
    val bucketMin1 = bands
      .groupBy($"band_idx", $"band_hash")
      .agg(min($"doc_id").as("bucket_rep"))
    val r1 = bands.join(bucketMin1, Seq("band_idx", "band_hash"))
      .groupBy($"doc_id")
      .agg(min($"bucket_rep").as("rep"))
    val bucketMin2 = bands.join(r1, Seq("doc_id"))
      .groupBy($"band_idx", $"band_hash")
      .agg(min($"rep").as("bucket_rep"))
    val rep = bands.join(bucketMin2, Seq("band_idx", "band_hash"))
      .groupBy($"doc_id")
      .agg(min($"bucket_rep").as("rep"))
    rep.select($"doc_id", $"rep".as("cluster_rep"),
               ($"doc_id" =!= $"rep").as("is_dup"))
  }

  /** EXACT connected components over the minhash band graph: every
    * document labeled with the smallest doc_id reachable through
    * shared LSH band buckets, iterated to a FIXPOINT.
    *
    * This closes the semantic gap [[dedupMinhash]] leaves open: its 2
    * unrolled min-propagation hops under-merge chain-shaped clusters
    * (A~B~C~D~E where the ends share no bucket — a real corpus has
    * chained near-dups: successive revisions of the same page each
    * overlap their neighbors). The fixpoint here is the same
    * pin-the-edge-set iteration as [[graft.graph.Graph.graphComponents]]
    * but runs directly on the BIPARTITE doc↔bucket relation: each hop
    * is bucket-min then doc-min — two shuffles linear in the band
    * relation — and never materializes doc–doc pairs, which inside a
    * large dup cluster would be quadratic. `localCheckpoint` cuts the
    * lineage per hop so plan size stays constant; the hop guard is a
    * runaway check, not a correctness bound (exit is the converged
    * count, and a guard hit raises rather than returning a
    * half-propagated labeling). Chain under-merge vs fixpoint is
    * spec-asserted in DedupSimSpec.
    */
  def dedupComponents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = minhashBands(Tables.documents(spark, sfDir)).persist()
    try {
      // DEFAULT = star contraction since the r12 A/B: same-protocol
      // sf10 probes measured star 15.5/13.3/13.1 s vs propagation
      // 16.2/16.1 s (the bucket graph contracts to min-rooted stars
      // in 4 rounds; the propagation loop paid 5 band-sized hops).
      // -Dspark.graft.ccAlgo=prop re-selects the propagation twin.
      val labels =
        if (sys.props.get("spark.graft.ccAlgo").contains("prop"))
          bandComponents(bands)
        else {
          // star edges of the bucket graph: member → bucket min is
          // connectivity-equivalent to the co-bucket clique and LINEAR
          // in band rows (never within-bucket quadratic)
          val bmin = bands.groupBy($"band_idx", $"band_hash")
            .agg(min($"doc_id").as("bmin"))
          val edges = bands.join(bmin, Seq("band_idx", "band_hash"))
            .filter($"doc_id" =!= $"bmin")
            .select($"doc_id".as("u"), $"bmin".as("v")).distinct()
          val star = starComponents(edges)
          bands.select($"doc_id").distinct()
            .join(star, Seq("doc_id"), "left_outer")
            .select($"doc_id", coalesce($"comp", $"doc_id").as("comp"))
        }
      labels
        .select($"doc_id", $"comp".as("component"),
                ($"doc_id" =!= $"comp").as("is_dup"))
    } finally bands.unpersist()
  }

  /** Canonical-document selection per near-dup cluster — the KEEPER
    * policy that turns detection into an actionable removal list:
    * within each [[dedupComponents]] cluster, keep the longest
    * document (n_chars, smallest doc_id on ties); every doc reports
    * its cluster, the cluster's keeper, and whether it survives
    * (singletons keep themselves). Downstream, `filter(!keep)` IS
    * the removal manifest and `keeper_id` the canonical-id remap.
    *
    * Scale (100 TB): the GenScale corpus puts ~96% of documents in
    * ONE component, so a per-component argmax WINDOW would funnel
    * the whole corpus through a single task — the keeper is instead
    * a map-side-combinable `max(struct(n_chars, -doc_id))` aggregate
    * (lexicographic struct max == the argmax with min-id tie-break),
    * and the decoration join back on `component` is a plain shuffle
    * join AQE can skew-split, which no window can. The cluster
    * labeling itself reuses dedupComponents' star contraction.
    */
  def dedupKeepOne(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // checkpoint: the labeled relation feeds BOTH the keeper argmax
    // and the decoration join, and the components/banding pass behind
    // it would otherwise evaluate once per consumer
    val labeled = dedupComponents(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select($"doc_id", $"n_chars"),
            Seq("doc_id"))
      .select($"doc_id", $"component", $"n_chars")
      .localCheckpoint()
    val keepers = labeled
      .groupBy($"component")
      .agg(max(struct($"n_chars", (-$"doc_id").as("neg"))).as("m"))
      .select($"component", (-$"m.neg").as("keeper_id"))
    labeled.join(keepers, Seq("component"))
      .select($"doc_id", $"component", $"keeper_id",
              ($"doc_id" === $"keeper_id").as("keep"))
  }

  /** Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) over an
    * undirected edge list — the round-11 verdict's A/B candidate
    * against [[bandComponents]]' pointer-jumped label propagation for
    * the 96%-giant-component band graph. Input: (u, v) edges (any
    * orientation, self-loops tolerated); output: (doc_id, comp) for
    * every node incident to at least one edge, comp = the component's
    * minimum node id (isolated nodes are the caller's join-back).
    *
    * Each round: LARGE-STAR re-hangs every neighbor v > x of each
    * center x onto m(x) = min(Γ⁺(x)); SMALL-STAR re-hangs the
    * neighbors v ≤ x plus x itself onto m(x). Both phases preserve
    * connectivity and only decrease the (sum-of-min-labels)
    * potential; the fixpoint is the set of min-rooted stars, reached
    * in O(log²) rounds on any graph and 2-3 rounds on LSH clone
    * clusters (which arrive as near-stars around each bucket min).
    * Convergence = the canonical edge set is unchanged by a round
    * (subset via exceptAll + equal count — both sides are distinct
    * canonical pairs, so that IS set equality).
    */
  private[graft] def starComponents(edges0: DataFrame): DataFrame = {
    import edges0.sparkSession.implicits._
    var edges = edges0
      .select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
      .filter($"u" =!= $"v").distinct().localCheckpoint()
    var n = edges.count()
    var converged = n == 0
    var rounds = 0
    while (!converged) {
      assert(rounds < 50, "star contraction exceeded the round guard")
      // large-star: every canonical edge (a,b), a<b, is neighbor b>a
      // at center a → emit (m(a), b); m ≤ a < b keeps pairs canonical
      val mL = minOverNeighbors(edges)
      val ls = edges.join(mL, $"u" === $"x")
        .select($"m".as("u"), $"v").distinct().localCheckpoint()
      // small-star: every canonical edge (a,b) is neighbor a≤b at
      // center b → emit (m(b), a), plus each center's own (m(b), b)
      val mS = minOverNeighbors(ls)
      val next = ls.join(mS, $"v" === $"x")
        .select($"m".as("u"), $"u".as("v"))
        .union(mS.select($"m".as("u"), $"x".as("v")))
        .filter($"u" =!= $"v").distinct().localCheckpoint()
      val nNext = next.count()
      converged = nNext == n && next.exceptAll(edges).isEmpty
      edges = next
      n = nNext
      rounds += 1
    }
    if (sys.env.contains("SPARK_GRAFT_TRACE"))
      System.err.println(s"[graft-trace] starComponents converged in $rounds rounds")
    // the fixpoint is min-rooted stars: every member's one neighbor
    // is its component min, and each root labels itself
    edges.select($"v".as("doc_id"), $"u".as("comp"))
      .union(edges.select($"u".as("doc_id"), $"u".as("comp")))
      .distinct()
  }

  /** m(x) = min(Γ(x) ∪ x) over a canonical edge list, for every node
    * x that appears in any edge — one symmetrize + groupBy.
    */
  private def minOverNeighbors(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges.select($"u".as("x"), $"v".as("y"))
      .union(edges.select($"v".as("x"), $"u".as("y")))
      .groupBy($"x").agg(least($"x", min($"y")).as("m"))
  }

  /** Fixpoint min-label propagation over a (doc_id, band_idx,
    * band_hash) relation. Every doc is in its own buckets, so the
    * bucket-min pass always covers every doc and labels only ever
    * decrease; convergence = no label changed in a hop.
    *
    * Deliberately a FULL-RECOMPUTE loop: a Flink-style delta
    * iteration (recompute only buckets touched by the changed-label
    * frontier) was implemented and measured SLOWER here (12.0 s vs
    * 10.5 s at sf1, 7 hops) — the per-hop left-join merging the
    * shrinking update set back over the full labeling costs more
    * than the restricted aggregation saves, because near-dup
    * frontiers stay wide for most of the (short) chain depth. The
    * simple loop also keeps every hop two plain co-partitioned
    * shuffles of the pinned band relation.
    *
    * Since r12 this is the A/B TWIN, not the default:
    * [[starComponents]] over the bucket-star edge list measured
    * faster at sf10 (13.1-15.5 s vs 16.1-16.2 s same-protocol
    * probes) because the star edge list dedups to one row per
    * (member, bucket-min) while every propagation hop re-shuffles
    * the full 8-band relation. Kept callable via
    * -Dspark.graft.ccAlgo=prop and pinned equal on the corpus by
    * DedupSimSpec's cross-check.
    */
  private[graft] def bandComponents(bands: DataFrame): DataFrame = {
    import bands.sparkSession.implicits._
    // hop 1 unrolled: against the identity labeling the bucket min is
    // just min(doc_id), so the generic hop's labels-join would join a
    // relation to itself for nothing (same saving as dedupMinhash's
    // unroll); nmin ≤ doc_id always, so least() and the changed flag
    // are also free here
    var labels = bands
      .join(bands.groupBy($"band_idx", $"band_hash")
              .agg(min($"doc_id").as("bmin")),
            Seq("band_idx", "band_hash"))
      .groupBy($"doc_id").agg(min($"bmin").as("comp"))
      .localCheckpoint()
    var converged = false
    var hops = 1
    while (!converged) {
      assert(hops < 50, "band-graph component diameter exceeded the hop guard")
      val bucketMin = bands.join(labels, Seq("doc_id"))
        .groupBy($"band_idx", $"band_hash")
        .agg(min($"comp").as("bmin"))
      // the changed flag rides the same pass — convergence costs no
      // extra join against the previous labeling
      val next = bands.join(bucketMin, Seq("band_idx", "band_hash"))
        .groupBy($"doc_id").agg(min($"bmin").as("nmin"))
        .join(labels, Seq("doc_id"))
        .select($"doc_id", least($"comp", $"nmin").as("comp"),
                ($"nmin" < $"comp").as("changed"))
        .localCheckpoint() // cut lineage: constant plan size per hop
      converged = next.filter($"changed").isEmpty
      // pointer jump: comp ← comp(comp). Labels are doc ids, the map is
      // total, and comp(x) ≤ x, so the composition only decreases and
      // stays inside the component — correctness-neutral, but it
      // shortcuts label chains so the giant component converges in
      // ~log(diameter) bucket passes instead of diameter (measured 9 →
      // 5 hops at sf10 on the regenerated corpus). Two label-sized
      // shuffles per hop vs the band-sized passes they save. The
      // convergence test stays sound: it fires on the BUCKET pass
      // changing nothing, which alone implies the labeling is constant
      // on every component (the jump is the identity at that point).
      labels =
        if (converged) next.drop("changed")
        else next.select($"doc_id", $"comp").as("v")
          .join(next.select($"doc_id".as("j"), $"comp".as("jcomp")),
                $"comp" === $"j")
          .select($"doc_id", $"jcomp".as("comp"))
          .localCheckpoint()
      hops += 1
    }
    if (sys.env.contains("SPARK_GRAFT_TRACE"))
      System.err.println(s"[graft-trace] bandComponents converged in $hops hops")
    labels
  }

  /** Incremental (cross-corpus) dedup: a NEW BATCH of documents
    * (doc_id ≡ 0 mod 4, the stand-in for today's crawl) checked
    * against the EXISTING corpus — the decision a continuously-
    * ingesting training pipeline runs per increment, without ever
    * re-pairing the corpus against itself. A batch doc is an exact
    * dup if a corpus doc shares its content hash (normalized text,
    * [[dedupExact]]'s definition — checked DIRECTLY, so a
    * case-variant twin is exact even when its un-normalized word set
    * yields different minhash bands; the pre-r12 band-gated flag
    * silently missed those), a near dup if any corpus doc shares an
    * LSH band bucket. Output is linear in the batch: per doc, the
    * count of corpus near-matches and a keep / near_dup / exact_dup
    * decision (exact wins; an exact dup whose bands all differ can
    * report n_corpus_matches = 0).
    * At 100 TB the corpus band index is precomputed and stored (it is
    * exactly [[dedupMinhash]]'s band relation); the daily batch side
    * is increment-sized, so the band join broadcasts it and the
    * corpus streams past it. The r12 class-collapse adds two
    * map-combinable aggregations over the stored index per increment
    * (distinct class bands, class sizes) — see
    * [[incrementalDecisions]] for why and for the production path
    * that persists them pre-collapsed.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Pin the band index: [[incrementalDecisions]] consumes it three
    // times (corpus side of the band join, batch side, batch doc
    // list), and under AQE each consumer re-runs the 64-slot
    // minhash-over-md5 — the expensive part — from the parquet scan.
    // In production this relation IS a stored parquet index
    // ([[graft.streaming.DedupIngest]] persists it per micro-batch),
    // so the pin reproduces the designed read-amortization. Measured
    // at sf10 (isolated probe): 69.4 s → 45.5 s (pin alone); 22.8 s
    // with the class-collapsed decision join.
    val bands = contentBands(Tables.documents(spark, sfDir)).persist()
    incrementalDecisions(bands.filter($"doc_id" % 4 === 0),
                         bands.filter($"doc_id" % 4 =!= 0))
  }

  /** The PRODUCTION per-increment path of [[dedupIncremental]], as
    * its own benchmarked key: the corpus band index is NOT re-derived
    * per run — the decision join reads the PRE-COLLAPSED class
    * relations from the stored index [[graft.streaming.DedupIngest]]
    * maintains, seeded once per (corpus, code version) through
    * [[graft.core.SeedCache]]: the cache path embeds a bytecode
    * fingerprint of the whole band/signature path, so a code change
    * reseeds instead of silently replaying a stale artifact, and the
    * atomic directory claim makes concurrent seeders (Verify beside
    * Bench on one SF) safe. What this measures is exactly what a
    * continuously ingesting pipeline pays per increment — batch-side
    * band derivation plus the broadcast decision join — while
    * [[dedupIncremental]] additionally re-derives and pins the whole
    * corpus index per run (its own Scaladoc's disclosed bench-only
    * cost). Decisions are identical by construction (same relations,
    * same join), so the same oracle gates both; the r16 verdict's
    * dedup_incremental profile is the measured GAP between the two
    * keys.
    */
  def dedupIncrementalStored(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter($"doc_id" % 4 =!= 0)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(sfDir).getCanonicalPath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val path = graft.core.SeedCache.ensure("graft-dedup-index",
      s"${key}_${corpus.count()}") { tmp =>
      graft.streaming.DedupIngest.seedIndex(corpus, tmp)
    }
    // increment-side derivation IS per-increment production work; the
    // pin mirrors DedupIngest.start (the decision join reads the
    // batch bands three times)
    val batch = contentBands(docs.filter($"doc_id" % 4 === 0)).persist()
    incrementalDecisionsPreCollapsed(batch,
      graft.streaming.DedupIngest.readStored(spark, path, "classbands")
        .select($"band_idx", $"band_hash", $"c_class"),
      graft.streaming.DedupIngest.readStored(spark, path, "classsizes")
        .select($"c_class", $"c_docs"),
      graft.streaming.DedupIngest.readStored(spark, path, "hashes"))
  }

  /** (doc_id, content_hash, sig_class, band_idx, band_hash) — the
    * STORED, APPENDABLE corpus band index behind incremental dedup:
    * 8 rows per document, exactly what [[incrementalDecisions]] joins
    * against and what [[graft.streaming.DedupIngest]] persists and
    * grows per micro-batch. Explode-then-hash, same as
    * [[minhashBands]]: keeps the 64-slot signature out of the
    * interpreted lambda (CollapseProject would recompute it per band
    * element otherwise).
    *
    * `sig_class` = 64-bit hash of the WHOLE signature: docs with
    * equal signatures have equal band sets, so they are
    * interchangeable for any band-bucket matching — the decision
    * join collapses both sides to signature classes on it (see
    * [[incrementalDecisions]]). Computed post-explode like
    * band_hash (8 identical copies per doc, one md5 of the joined
    * sig string per band row — noise next to the 64-slot minhash).
    */
  private[graft] def contentBands(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    withWordSet(docs)
      .withColumn("content_hash", md5(lower(trim($"text"))))
      .withColumn("sig", graft.functions.minhashSigMd5($"wset", 64))
      .select($"doc_id", $"content_hash", $"sig",
        posexplode(expr("sequence(0, 7)")).as(Seq("band_idx", "_b")))
      .withColumn("band_hash", expr(
        "graft_md5lower64(array_join(transform(" +
          "slice(sig, cast(band_idx*8+1 as int), 8), " +
          "x -> cast(x as string)), ','))"))
      .withColumn("sig_class", expr(
        "graft_md5lower64(array_join(transform(" +
          "sig, x -> cast(x as string)), ','))"))
      .select($"doc_id", $"content_hash", $"sig_class",
        $"band_idx", $"band_hash")
  }

  /** The per-increment decision join: batch band index vs corpus band
    * index, one decision row per batch doc. Duplicate-INSENSITIVE on
    * the corpus side (every corpus relation below is a distinct /
    * countDistinct): replaying an index append (at-least-once sinks)
    * cannot change any decision, which is what makes the streaming
    * twin's recovery story exactly-once in effect.
    *
    * Join shape matters at 100 TB: a batch-side left_outer can NEVER
    * broadcast the batch (Spark's BroadcastHashJoin only builds the
    * right side for LeftOuter, so the planner would shuffle the whole
    * stored index per increment). Instead: an INNER band join (batch
    * side broadcast — BuildLeft is supported for inner), aggregated to
    * per-class match stats, then the unmatched batch docs are
    * recovered by left-joining the increment-sized doc list against
    * the broadcast-sized aggregated stats.
    *
    * Hot-bucket defense (the r12 rework): a template family sharing
    * one band bucket makes the doc×doc band join birthday-quadratic —
    * measured 39.6M join rows for 50k docs (sf1), growing ~100× per
    * decade. Both sides therefore collapse to SIGNATURE CLASSES
    * (`sig_class`, equal minhash signature ⇒ equal band set ⇒
    * interchangeable in any bucket match): the band join enumerates
    * class×class (10.7M rows at sf1, 3.7× less), the per-doc
    * countDistinct disappears entirely (n_corpus_matches = Σ matched
    * class sizes — classes partition docs, so the sum IS the distinct
    * doc count), and the exact-dup flag moves to a separate
    * band0-only content-hash join (1 row per doc instead of 8, no
    * 32-char hash strings riding the wide band join; this also FIXES
    * the flag for case-variant twins whose un-normalized word sets
    * band differently — the old band-gated max() never saw them).
    *
    * The honest cost of the collapse: the two class-collapsed corpus
    * relations (distinct class bands, class sizes) are each one
    * map-combinable aggregation over the cached/stored index, whose
    * exchange is bounded by the number of DISTINCT (band, class)
    * rows — collapse-sized on template corpora, but ≈ index-sized on
    * a mostly-unique corpus, where the pre-r12 plan had ZERO corpus
    * exchanges. Per-increment at 100 TB that trade is wrong to pay
    * repeatedly: the production path persists the class-level
    * relations IN the stored index (they are strictly smaller than
    * the doc-level index, and class sizes are additive across
    * appends, so both maintain incrementally); this method derives
    * them on the fly because the test corpus is template-heavy and
    * the derivation is one linear pass.
    */
  private[graft] def incrementalDecisions(batchBands: DataFrame,
                                          corpusBands: DataFrame): DataFrame = {
    import batchBands.sparkSession.implicits._
    // Corpus relations, class-collapsed (8-byte keys only). Both are
    // duplicate-insensitive aggregations over the stored index, so a
    // replayed append cannot flip a decision. This derive-on-the-fly
    // form is the TEST-CORPUS path (template-heavy, one linear pass);
    // the production path reads them PRE-COLLAPSED from the stored
    // index ([[graft.streaming.DedupIngest]] persists them per batch —
    // class bands and sizes are additive across appends), entering at
    // [[incrementalDecisionsPreCollapsed]] with zero corpus-sized
    // aggregations per increment.
    incrementalDecisionsPreCollapsed(
      batchBands,
      corpusBands
        .select($"band_idx", $"band_hash", $"sig_class".as("c_class"))
        .distinct(),
      corpusBands.filter($"band_idx" === 0)
        .groupBy($"sig_class".as("c_class"))
        .agg(countDistinct($"doc_id").as("c_docs")),
      corpusBands.filter($"band_idx" === 0).select($"content_hash"))
  }

  /** The decision join against PRE-COLLAPSED corpus relations — what
    * a stored class-level index feeds directly:
    *   - `classBands` (band_idx, band_hash, c_class): the distinct
    *     band memberships per signature class. May contain CROSS-BATCH
    *     duplicates (each append writes its own batch's relation):
    *     harmless, the match-pair set is deduped AFTER the join, and
    *     that dedup is match-bounded, never corpus-sized.
    *   - `classSizes` (c_class, c_docs): per-class doc counts, as
    *     ADDITIVE PARTIALS (one per batch a class appeared in) — the
    *     match aggregate sums join rows, so partials compose exactly.
    *     Contract: a doc_id contributes to at most one partial (each
    *     doc is ingested once; a replayed append rewrites its own
    *     partition rather than double-appending).
    *   - `corpusHashes` (content_hash; other columns are dropped):
    *     the corpus content hashes (duplicates fine — semi-join probe
    *     side).
    * Every aggregate below is bounded by the BATCH and its matches;
    * the corpus relations only ever stream past a broadcast.
    */
  private[graft] def incrementalDecisionsPreCollapsed(
      batchBands: DataFrame, classBands: DataFrame,
      classSizes: DataFrame, corpusHashes: DataFrame): DataFrame = {
    import batchBands.sparkSession.implicits._
    // Broadcast is a SAFETY-GATED hint, not unconditional: an explicit
    // broadcast() bypasses Spark's size threshold, so an oversized
    // increment (a backfill sized like the corpus) would be force-
    // collected to the driver and OOM it. Gate on Catalyst's own size
    // estimate of the batch band relation: up to
    // spark.graft.incrementalBroadcastBytes (default 256 MB — ~5M docs
    // of band rows, comfortably inside executor broadcast budgets) the
    // batch side broadcasts and the corpus index streams past with
    // ZERO corpus shuffle (the designed plan, BuildLeft-asserted in
    // PlanAuditSpec). Beyond the gate, fall back to plain joins —
    // one corpus-index shuffle, slower but bounded-memory; an
    // increment that big is a batch job, not an increment.
    val spark = batchBands.sparkSession
    val gate = BigInt(spark.conf
      .get("spark.graft.incrementalBroadcastBytes", (256L << 20).toString)
      .toLong)
    // A streaming micro-batch's plan is LogicalRDD-backed and has NO
    // stats: Catalyst reports the spark.sql.defaultSizeInBytes
    // sentinel (Long.MaxValue), which read naively would disable the
    // designed BuildLeft broadcast for EVERY DedupIngest micro-batch
    // (the batch tests only passed because their batch side was
    // parquet-backed). On the sentinel, measure instead of trusting
    // the estimate: count the band relation — an action over the
    // increment, which the ingest path has already persisted, so the
    // count doubles as the cache materialization — and bound bytes as
    // rows × a conservative row width (doc_id 8 + 32-hex content_hash
    // ~40 + band_idx 4 + band_hash 8 + row overhead « 128).
    val statsSize = batchBands.queryExecution.optimizedPlan.stats.sizeInBytes
    val sentinel = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    val batchIsSmall =
      if (statsSize < sentinel) statsSize <= gate
      else BigInt(batchBands.count()) * 128 <= gate
    def hinted(df: DataFrame): DataFrame =
      if (batchIsSmall) broadcast(df) else df
    // Near matches: batch class bands (broadcast) × corpus class
    // bands, deduped to (batch class, corpus class) pairs, then sum
    // of matched class sizes. Classes partition corpus docs and a
    // class's docs share every band, so Σ sizes over DISTINCT matched
    // classes equals a countDistinct over corpus docs — and because
    // classSizes may arrive as per-batch PARTIALS, the matched-pair ×
    // partial join rows sum to exactly the same total.
    val classPairs = hinted(batchBands
        .select($"sig_class", $"band_idx", $"band_hash").distinct())
      .join(classBands, Seq("band_idx", "band_hash"))
      .select($"sig_class", $"c_class").distinct()
    val nearByClass = classPairs
      .join(classSizes, Seq("c_class"))
      .groupBy($"sig_class")
      .agg(sum($"c_docs").as("m_corpus_matches"))
    // Exact dups: an increment-sized broadcast of the batch's
    // distinct content hashes semi-joined against the corpus hash
    // stream yields the matched hash set without the 32-char strings
    // ever entering the band join.
    // Projected to the hash first: a stored relation carries its
    // ingest_batch, and a hash stored in two batch partitions would
    // survive the distinct twice and fan the left_outer join out into
    // two decision rows for one doc.
    val exactHashes = corpusHashes.select($"content_hash")
      .join(hinted(batchBands.filter($"band_idx" === 0)
        .select($"content_hash").distinct()), Seq("content_hash"),
        "left_semi")
      .distinct()
      .withColumn("m_exact_dup", lit(true))
    // roster distinct: an at-least-once source can deliver a doc
    // twice inside one micro-batch (two band0 rows) — the contract
    // is ONE decision row per batch doc
    batchBands.filter($"band_idx" === 0)
      .select($"doc_id", $"sig_class", $"content_hash")
      .distinct()
      .join(hinted(nearByClass), Seq("sig_class"), "left_outer")
      .join(hinted(exactHashes), Seq("content_hash"), "left_outer")
      .select($"doc_id",
        coalesce($"m_corpus_matches", lit(0L)).as("n_corpus_matches"),
        coalesce($"m_exact_dup", lit(false)).as("is_exact_dup"))
      .withColumn("decision",
        when($"is_exact_dup", "exact_dup")
          .when($"n_corpus_matches" > 0, "near_dup")
          .otherwise("keep"))
  }

  /** 64-bit SimHash (Charikar '02 / Manku et al. WWW'07 shape): each
    * word votes ±1 per bit of its hash; the sign vector packs into a
    * long. Near-dups = hamming distance ≤ 3, found by the Manku et
    * al. WWW'07 block-combination trick: split the 64 bits into 6
    * blocks (11,11,11,11,10,10); ≤ 3 flipped bits touch ≤ 3 blocks,
    * so at least 3 of the 6 blocks match exactly and some C(6,3)=20
    * combination of 3 whole blocks collides — candidates come from 20
    * equi-joins on (combo_id, 31–33-bit combo key), never n².
    *
    * Why not the simpler 4×16-bit single-block pigeonhole (the
    * round-1→5 design): a 16-bit key has only 65k buckets, so random
    * (non-dup) collisions grow as n²/2¹⁷ per chunk — birthday-
    * quadratic. The sf1 scaling bench measured it: 27× time at 10×
    * data (~76M candidate pairs at 50k docs). A 3-block combo key is
    * 31+ bits wide, pushing the same birthday term below n²/2³², and
    * keeps the guarantee EXACT for d ≤ 3 — the standard trade: more
    * index rows (20/doc vs 4/doc, still linear) for quadratically
    * fewer spurious candidates. At 10⁹ docs the 16-bit design is
    * ~10¹³ pairs (dead); this one is ~10⁹ (a shuffle).
    */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the shared 3-of-6 block-combination machinery ([[Pigeonhole]]),
    // on its 64-bit split
    val scheme = Pigeonhole.Sim64
    val d = withWordSet(Tables.documents(spark, sfDir))
      // digest + bit votes fused in ONE native expression: a lambda
      // inside transform() is interpreted per element, so the
      // two-step transform+SimHash64 formulation paid lambda dispatch
      // per token. The word hash stays md5-lower-64 (not xxhash64) so
      // an external SQL oracle replays simhash → pigeonhole → hamming
      // (the oracle's own candidate device — 4×16 chunks — differs,
      // but both blockings are lossless for d ≤ 3, so the verified
      // pair set is identical)
      .withColumn("simhash", graft.functions.simhash64Md5($"wset"))
      .select($"doc_id", $"simhash",
        explode(scheme.comboKeys($"simhash")).as("ck"))
      .select($"doc_id", $"simhash",
        $"ck.combo_id".as("combo_id"), $"ck.key".as("key"))
      // persist the 20-rows-per-doc combo relation: when the
      // self-join broadcasts one side there is no ReusedExchange, so
      // WITHOUT the pin each side re-runs the md5-per-word simhash
      // over the whole corpus — the most expensive part, paid twice
      .persist()
    // shared join/emit scaffold: hamming verify before the canonical-
    // combo exactly-once emission (no pair-distinct — the old
    // `.distinct()` shuffled ~40 M copies at sf1 for 2.7 M pairs)
    scheme.pairs(d.withColumnRenamed("simhash", "h"), maxHamming = 3)
  }

  /** Blocking-recall audit for the approximate dedup family — the
    * dedup twin of `sim_recall_eval`: before trusting minhash-LSH or
    * simhash decisions on a new corpus, measure how much of the EXACT
    * near-dup mass each blocking scheme actually catches, per jaccard
    * threshold, in basis points.
    *
    * Ground truth = the exact AllPairs jaccard pairs ([[ngramPairs]],
    * τ = 0.7 — the lowest audited threshold; higher thresholds are
    * row-filters over the same relation) on a deterministic audit
    * slice: doc_id % `spark.graft.recallAuditSliceMod` = 0 (the
    * [[dedupIncremental]] batch-split device; default mod 4 = a 25%
    * slice, which the oracle replays). At production scale the exact
    * truth is corpus-quadratic in the worst case, so the audit runs
    * on a slice by design, and the slice RATE is the conf knob that
    * prices it: truth cost falls ~quadratically in the mod while
    * recall_bp stays an unbiased per-slice ratio.
    *
    * A truth pair is "caught" by a scheme iff the two docs share ≥1
    * blocking key: a (band_idx, band_hash) for `minhash_lsh` (8×8
    * banding, [[minhashBands]]), a 16-bit simhash chunk for
    * `simhash_chunk` (the 4-chunk pigeonhole — exact for hamming ≤ 3,
    * probabilistic above). The caught test JOINS the truth pairs
    * against the linear blocking relations (|truth|×8 rows) — LSH
    * candidate pairs are never materialized, so the audit inherits
    * the decision pipeline's linear-shuffle shape instead of the
    * quadratic candidate mass.
    *
    * Output: (method, threshold_bp, n_truth_pairs, n_caught,
    * recall_bp) — 2 methods × thresholds {7000, 8000, 9000}. The
    * theoretical 8×8 LSH catch probability 1−(1−s⁸)⁸ (≈0.99 at
    * s = 0.9) is the documented bound DedupSimSpec pins on a fixture.
    */
  /** 16-bit simhash chunk stream of the audit sample — the
    * simhash_chunk catch relation of [[dedupRecallEval]], split out so
    * the plan audit can pin its shape now that the catch branches
    * materialize behind checkpoints. The chunk index explodes FIRST
    * (Generate is a CollapseProject barrier), then shifts per exploded
    * row: the earlier transform(sequence(0,3), k ->
    * shiftright(simhash,…)) lambda was interpreted AND CollapseProject
    * re-inlined the simhash md5 fold into the lambda body, recomputing
    * it per element (the repo's documented interpreted-lambda
    * recurrence; same fix as minhashBands' band_idx explode).
    */
  private[graft] def simhashChunks(sample: DataFrame): DataFrame = {
    import sample.sparkSession.implicits._
    withWordSet(sample)
      .withColumn("simhash", graft.functions.simhash64Md5($"wset"))
      .select($"doc_id", $"simhash",
        posexplode(expr("sequence(0, 3)")).as(Seq("chunk_idx", "_k")))
      .select($"doc_id", $"chunk_idx",
        expr("shiftright(simhash, chunk_idx*16) & 65535").as("chunk_val"))
  }

  /** The deterministic audit slice of the corpus — factored so the
    * query AND the plan audit build the IDENTICAL sample (r18
    * advisor: the audit's hard-coded `doc_id % 4` could silently
    * drift from the conf-driven production slice).
    *
    * spark.graft.recallAuditSliceMod: the audit slice RATE — the
    * production price knob for the block-quadratic exact-truth
    * stage (docs with doc_id % mod == 0 are audited, i.e. a 1/mod
    * slice; default 4 = 25%, which the oracle replays). At 100 TB
    * the truth cost scales ~1/mod² per source block, so a curation
    * run dials mod up until the audit fits its budget; recall_bp is
    * a ratio over the slice's own truth pairs, so it stays unbiased
    * at any rate (DedupSimSpec pins mod 2/4/8 consistency).
    */
  private[graft] def recallAuditSample(spark: SparkSession,
                                       sfDir: String): DataFrame = {
    import spark.implicits._
    val sliceMod = spark.conf.get("spark.graft.recallAuditSliceMod", "4").toInt
    require(sliceMod >= 1,
      s"spark.graft.recallAuditSliceMod must be >= 1: $sliceMod")
    Tables.documents(spark, sfDir).filter($"doc_id" % sliceMod === 0)
  }

  /** One blocking scheme's caught relation: the truth pairs whose two
    * docs share ≥ 1 blocking key. Factored so the plan audit pins each
    * branch's pre-checkpoint shape (truth consumed from its cache,
    * never recomputed per branch — r18 advisor).
    *
    * Shape (r19, guide §2 shuffle fewer bytes): each doc's keys PACK
    * into one bounded array (8 bands / 4 chunks by construction), the
    * packed relation pins (it feeds BOTH pair sides — unpinned, the
    * md5 signature pass ran twice per branch: broadcast self-joins
    * get no ReusedExchange), and a truth pair is caught iff its two
    * key arrays intersect (`arrays_overlap` — exact: keys compare as
    * full (idx, hash) structs). The r18 shape instead exploded the
    * keys INTO the join — |truth|·8 rows through a 3-column band-key
    * shuffle plus a pair `distinct()` to undo the multi-key fanout
    * (~53 M intermediate rows at sf10 for 6.6 M truth pairs).
    * Returns the caught relation and the pinned packed relation, which
    * the caller releases once the caught relation is materialized.
    */
  private def caughtBy(truth: DataFrame, keys: DataFrame,
                       keyCols: Seq[String], method: String): (DataFrame, DataFrame) = {
    import truth.sparkSession.implicits._
    val packed = keys.groupBy($"doc_id")
      .agg(collect_list(struct(keyCols.map(col): _*)).as("ks"))
      .persist()
    val caught = truth
      .join(packed.select($"doc_id".as("doc_id_1"), $"ks".as("k1")),
        Seq("doc_id_1"))
      .join(packed.select($"doc_id".as("doc_id_2"), $"ks".as("k2")),
        Seq("doc_id_2"))
      .filter(arrays_overlap($"k1", $"k2"))
      .select($"doc_id_1", $"doc_id_2")
      .withColumn("method", lit(method))
    (caught, packed)
  }

  /** The pinned truth relation plus the two PRE-CHECKPOINT catch
    * branches — [[dedupRecallEval]]'s building blocks, split out as
    * the plan-audit surface — and the branches' own pinned relations,
    * which the caller releases once it is done with the branches. The
    * caller must materialize `truth` (count) before consuming the
    * branches concurrently.
    */
  private[graft] def recallBranches(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    val sample = recallAuditSample(spark, sfDir)
    val truth = ngramPairs(sample, 7000)
      .withColumn("j_bp", expr("cast(round(jaccard * 10000) as bigint)"))
      .select($"doc_id_1", $"doc_id_2", $"j_bp")
      .persist() // scored once per method + once per threshold rollup
    // §3/§6 prune (r19): a blocking key matters ONLY for docs that
    // appear in a truth pair — the catch joins consult nothing else,
    // and each doc's signature depends only on its own text, so
    // pruning the signature input cannot change any emitted key.
    // Semi-join the sample down to the truth doc set BEFORE the
    // per-doc signature passes: the 64-slot minhash md5 signature and
    // the simhash md5 fold were the audit's most expensive corpus
    // work (each ran TWICE per branch — the self-join's two sides get
    // no ReusedExchange), and the truth-doc set (docs in ≥1 near-dup
    // pair at j ≥ 0.7) is far smaller than the slice at every SF.
    val truthDocs = truth.select($"doc_id_1".as("doc_id"))
      .union(truth.select($"doc_id_2".as("doc_id")))
    val audited = sample.join(truthDocs, Seq("doc_id"), "left_semi")
    val (mhCaught, mhPacked) = caughtBy(truth, minhashBands(audited),
      Seq("band_idx", "band_hash"), "minhash_lsh")
    val (shCaught, shPacked) = caughtBy(truth, simhashChunks(audited),
      Seq("chunk_idx", "chunk_val"), "simhash_chunk")
    (truth, mhCaught, shCaught, Seq(mhPacked, shPacked))
  }

  def dedupRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (truth, mhCaught, shCaught, packed) = recallBranches(spark, sfDir)
    // the two catch branches are independent passes over the pinned
    // truth — overlap them (guide §2.6), each materializing via its
    // own localCheckpoint; rows identical, only job overlap changes
    val caught = try {
      // materialize before the concurrent method branches below — a
      // cold persisted relation first touched by two concurrent jobs
      // can be computed redundantly by each
      truth.count()
      graft.core.Overlap.run(spark, "dedupRecallEval", 2)(Seq(
        () => mhCaught.localCheckpoint(),
        () => shCaught.localCheckpoint())).reduce(_ union _)
    } finally packed.foreach(_.unpersist())
    // ≤3-row threshold axis and ≤6-row aggregates: broadcast the
    // axes, roll the (method, threshold) matrix up from the pinned
    // truth relation — every corpus-sized stage is above this line
    val th = Seq(7000L, 8000L, 9000L).toDF("threshold_bp")
    val methods = Seq("minhash_lsh", "simhash_chunk").toDF("method")
    val truthT = truth.crossJoin(broadcast(th))
      .filter($"j_bp" >= $"threshold_bp")
      .groupBy($"threshold_bp").agg(count(lit(1)).as("n_truth_pairs"))
    val caughtT = truth.join(caught, Seq("doc_id_1", "doc_id_2"))
      .crossJoin(broadcast(th))
      .filter($"j_bp" >= $"threshold_bp")
      .groupBy($"method", $"threshold_bp").agg(count(lit(1)).as("n_caught"))
    methods.crossJoin(th)
      .join(truthT, Seq("threshold_bp"), "left")
      .join(caughtT, Seq("method", "threshold_bp"), "left")
      .select($"method", $"threshold_bp",
        coalesce($"n_truth_pairs", lit(0L)).as("n_truth_pairs"),
        coalesce($"n_caught", lit(0L)).as("n_caught"),
        when(coalesce($"n_truth_pairs", lit(0L)) === 0, lit(10000L))
          .otherwise(expr("(10000 * coalesce(n_caught, 0)) " +
            "div n_truth_pairs")).as("recall_bp"))
  }

  /** Embedding-cosine near-dup pairs (cos ≥ 0.35), blocked by the
    * `label` cluster id. Cells are PACKED (one corpus-sized shuffle)
    * and pairs generated in-memory by the native
    * [[org.apache.spark.sql.graft.CellSimPairs]] generator — the
    * self-join formulation shipped Σ|cell|² vector-payload rows
    * through the exchange to discard nearly all of them (the
    * qualifying pair set is sparse); measured 5.3 s → sub-second at
    * sf1. The generator threshold sits 1e-4 below the rounded bound
    * and the exact round(·,4) ≥ 0.35 predicate re-applies here, so
    * boundary semantics match the oracle bit-for-bit. Accumulation
    * order inside the generator equals the scalar loop's.
    */
  def dedupEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .withColumn("v", col("embedding").cast("array<double>"))
      .groupBy($"label")
      .agg(collect_list(struct($"vec_id", $"v")).as("vecs"))
      .select(graft.functions.cellSimPairs($"vecs", 0.35 - 1e-4)
        .as(Seq("vec_id_1", "vec_id_2", "cos")))
      .filter(round($"cos", 4) >= 0.35)
      .select($"vec_id_1", $"vec_id_2", round($"cos", 4).as("cosine"))
  }

  /** Passage-level exact dedup — the C4 / RefinedWeb LINE-dedup gate,
    * the sub-document twin of [[dedupExact]]: split every document
    * into consecutive non-overlapping 10-word blocks, hash each block
    * to a 63-bit key, keep only the globally FIRST occurrence of each
    * block under the total (doc_id, block index) order, and report
    * per document how much of it would be removed (basis points —
    * integer, no float ratio in the hashed output). Documents shorter
    * than one block pass through untouched with n_blocks = 0.
    *
    * Scale notes (100 TB): the exploded block relation is ~|corpus
    * words|/10 rows carrying 8-byte hashes, never block strings (the
    * same 63-bit md5 reduction as
    * [[graft.text.TextAnalysis.txtContamination]]); first-occurrence
    * is ONE row_number window partitioned by block hash — partition
    * population = the duplication factor of a single passage, so no
    * skyscraper partitions short of a corpus-wide boilerplate string,
    * which is precisely the row this operator exists to flag — then
    * one per-doc aggregate. Two linear shuffles, no pair
    * materialization, output exactly |documents| rows.
    */
  def dedupParagraph(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .withColumn("words", expr("split(trim(text), ' +')"))
    val blocks = docs
      .filter(size($"words") >= 10)
      .select($"doc_id",
        posexplode(expr(
          "transform(sequence(0, cast(size(words) div 10 as int) - 1), " +
            "b -> graft_md5lower64(array_join(slice(words, b*10+1, 10), ' ')))"))
          .as(Seq("bi", "h")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"h").orderBy($"doc_id", $"bi")
    val agg = blocks
      .withColumn("rn", row_number().over(w))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("b_blocks"),
           count(when($"rn" > 1, 1)).as("b_removed"))
    docs.select($"doc_id")
      .join(agg, Seq("doc_id"), "left_outer")
      .select($"doc_id",
        coalesce($"b_blocks", lit(0L)).as("n_blocks"),
        coalesce($"b_removed", lit(0L)).as("removed_blocks"))
      .withColumn("removed_bp", expr(
        "CASE WHEN n_blocks = 0 THEN 0L " +
          "ELSE (10000 * removed_blocks) div n_blocks END"))
  }

  /** SemDeDup-style semantic dedup decision (Abbas et al. 2023,
    * arXiv:2303.09540): within each embedding cluster (the corpus
    * `label`, the same coarse-quantizer cells the ANN family probes),
    * DROP every vector that has a LOWER-id cluster neighbor at
    * rounded cosine ≥ 0.35, blaming the smallest such id. This is the
    * per-item keep/drop rule a curation pipeline applies directly —
    * first-in-cluster-wins, deliberately NOT the transitive closure
    * ([[graft.graph.Graph]] components) and not the raw pair list
    * ([[dedupEmbed]]): A~B and B~C with A≁C drops B (and C, blaming
    * B) while closure would conflate all three.
    *
    * Scale notes: candidate pairs come from the packed-cell
    * [[graft.functions.cellSimPairs]] generator — Σ|cell|² arithmetic
    * stays in memory behind one corpus-sized pack shuffle, no
    * vector-payload pair rows through an exchange; the min-blame
    * aggregate and decision join are ≤ corpus-sized and linear. At
    * 100 TB the cells are the k ∝ √N quantizer contract, so cell
    * populations stay bounded.
    */
  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("v", col("embedding").cast("array<double>"))
    val dupOf = e
      .groupBy($"label")
      .agg(collect_list(struct($"vec_id", $"v")).as("vecs"))
      .select(graft.functions.cellSimPairs($"vecs", 0.35 - 1e-4)
        .as(Seq("a", "b", "cos")))
      .filter(round($"cos", 4) >= 0.35)
      .groupBy($"b".as("vec_id"))
      .agg(min($"a").as("dup_of"))
    e.select($"vec_id", $"label")
      .join(dupOf, Seq("vec_id"), "left_outer")
      .select($"vec_id", $"label",
        when($"dup_of".isNotNull, "drop").otherwise("keep").as("action"),
        $"dup_of")
  }

  /** Cross-source duplication provenance: for every (unordered) pair
    * of sources, how many LSH buckets they share and the candidate
    * near-dup pair MASS between them (Σ over shared buckets of
    * n_a·n_b, within-source Σ n·(n−1)/2) — the "who copies from
    * whom" matrix that decides which crawl snapshots to drop before
    * paying for full dedup.
    *
    * Deliberately MASS-based, never pair-based: this corpus's band
    * buckets reach >1.6k docs (10M+ pair mass at sf0.1 alone), so a
    * distinct-pair count would materialize a quadratic intermediate.
    * Per-bucket per-source counts are linear in the band relation;
    * the bucket-level source×source cross is bounded by |sources|²
    * per bucket. The source column rides the band Generate
    * ([[minhashBands]] `keep`), so no corpus-sized join-back either.
    */
  def dedupCrossSource(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // persist the per-(bucket, source) counts: the source×source cross
    // below self-joins this relation, and a self-join under AQE gets
    // NO ReusedExchange — without the pin the minhash signatures
    // compute twice (the relation is nontrivial-bucket-sized, tiny
    // next to the corpus)
    val bySrc = minhashBands(
        Tables.documents(spark, sfDir), keep = Seq("source"))
      .groupBy($"band_idx", $"band_hash", $"source")
      .agg(count(lit(1)).as("n"))
      .persist()
    val a = bySrc.select($"band_idx", $"band_hash",
      $"source".as("source_a"), $"n".as("n_a"))
    val b = bySrc.select($"band_idx", $"band_hash",
      $"source".as("source_b"), $"n".as("n_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter($"source_a" <= $"source_b")
      .withColumn("mass",
        when($"source_a" === $"source_b", expr("n_a * (n_a - 1) div 2"))
          .otherwise($"n_a" * $"n_b"))
      .filter($"mass" > 0)
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_shared_buckets"),
           sum($"mass").cast("long").as("candidate_mass"))
  }

  /** Train→test leakage audit (split decontamination): which TRAIN
    * documents near-duplicate a held-out TEST document? Membership
    * comes from the engine's own deterministic split
    * ([[graft.operators.Analytics.pipelineSplit]]'s md5 basis-point
    * hash), candidates from the shared MinHash band index: a train
    * doc is "leaked" if ANY of its 8 band keys appears among the test
    * docs' band keys. Per source: train count, leaked count, and the
    * leak rate in basis points — the audit every eval suite needs
    * before trusting a benchmark number.
    *
    * Scale: the test side is ~5% of the corpus and collapses to
    * DISTINCT (band_idx, band_hash) keys before the train side
    * LEFT-SEMI joins it (existence, not pairs — output ≤ one row per
    * train doc no matter how many collisions). No hard broadcast
    * hint: at bench scale AQE broadcasts the key set; at 100 TB the
    * semi join degrades gracefully to a key-partitioned shuffle
    * (still linear — the repo convention for maybe-big build sides).
    * No doc×doc intermediate anywhere, exactly like the Bloom side of
    * [[graft.text.TextAnalysis.txtContaminationBloom]] but over LSH
    * keys instead of shingles.
    */
  def pipelineDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .withColumn("h", Tables.docBasisPoints)
      .withColumn("split", Tables.splitOf($"h"))
    // both split sides read the band relation — pin it once or the
    // 64-slot signature computes twice (the dedupMinhash pattern)
    val bands = minhashBands(docs, keep = Seq("source", "split")).persist()
    val testKeys = bands.filter($"split" === "test")
      .select($"band_idx", $"band_hash").distinct()
    val leaked = bands.filter($"split" === "train")
      .join(testKeys, Seq("band_idx", "band_hash"), "left_semi")
      .select($"doc_id", $"source").distinct()
      .groupBy($"source").agg(count(lit(1)).as("n_leaked"))
    docs.filter($"split" === "train")
      .groupBy($"source").agg(count(lit(1)).as("n_train"))
      .join(leaked, Seq("source"), "left_outer")
      .withColumn("n_leaked", coalesce($"n_leaked", lit(0L)))
      .withColumn("leaked_bp", expr("n_leaked * 10000 div n_train"))
  }

  /** Substring-level exact dedup — the ExactSubstr gate of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): find every token SPAN of length ≥ k that occurs more
    * than once in the ENTIRE corpus (counting multiplicity, so a
    * phrase repeated within one document is duplicated too) and plan
    * its removal. C4/RefinedWeb-class pipelines run this alongside
    * MinHash because doc-level dedup misses boilerplate embedded in
    * otherwise-unique pages. Lee et al. build a corpus suffix array;
    * the shuffle-native equivalent is position-level k-gram marking:
    * a position starts a duplicated k-window iff its k-token shingle
    * hash occurs ≥ 2 times corpus-wide, and every maximal duplicated
    * span of length L ≥ k is exactly the interval union of its L−k+1
    * duplicated k-windows — so interval-merging the marked windows
    * per doc reconstructs the ≥ k-token spans without any suffix
    * array. Output is the per-doc removal plan: one row per document
    * with its maximal-span count, removed token count, and removed
    * fraction in basis points (exact integers; clean docs report 0).
    *
    * k = 5 here so the gate bites on the test corpus (production runs
    * 50; k is a parameter of [[substrSpans]]). A document shorter
    * than k tokens contributes its single whole-document shingle —
    * such a doc is removable only as an exact whole-doc duplicate.
    *
    * Scale notes (100 TB): the shingle relation reduces to 8-byte
    * md5 hashes in the scan pass ([[graft.text.TextAnalysis
    * .txtDupCoverage]]'s native ShingleMd5) and is persisted because
    * the occurrence count and the join-back both read it (the
    * recorded pin-8-byte-hashes A/B). The count join-back is a plain
    * hash-partitioned equi-join on the hash — never broadcast, never
    * doc×doc; span coalescing is one per-doc sort window over only
    * the DUPLICATED positions (a small fraction of corpus tokens);
    * everything is linear in corpus shingles.
    */
  def dedupSubstr(spark: SparkSession, sfDir: String): DataFrame =
    substrSpans(Tables.documents(spark, sfDir), k = 5)

  private[graft] def substrSpans(docs: DataFrame, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val tok = docs
      .withColumn("words", expr("split(trim(text), ' +')"))
      .withColumn("n_tokens", expr("cast(size(words) as bigint)"))
    // NOT persisted: the shingle stream is ~150M fat rows at sf10
    // behind a cheap native one-pass scan (ShingleMd5) — caching it
    // costs more than its two recomputes (the pin-fat-streams
    // negative result again; same-protocol sf10 A/B: 13.1 s pinned,
    // 11.8 s recomputed, and the pin held ~5 GB of cache)
    val sh = tok
      .select($"doc_id", $"n_tokens",
        posexplode(expr(s"graft_shingle_md5(words, $k)"))
          .as(Seq("pos", "g")))
      .select($"doc_id", $"n_tokens", $"pos".cast("long").as("pos"), $"g")
    // occurrence count WITH multiplicity (no per-doc distinct):
    // within-doc repeats are duplicated spans here, unlike
    // txtDupCoverage's document-frequency criterion
    val cnt = sh.groupBy($"g").agg(count(lit(1)).as("cnt"))
    // each duplicated position covers tokens [pos, pos+k-1], clamped
    // for the short-doc whole-document shingle
    val dup = sh.join(cnt.filter($"cnt" >= 2), Seq("g"))
      .select($"doc_id", $"pos",
        least($"pos" + (k - 1), $"n_tokens" - 1).as("e"))
    // classic interval union per doc: a window opens a new span iff
    // it starts past every previous window's end + 1 (overlap OR
    // adjacency merges — contiguous duplicated text is one span)
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    val spans = dup
      .withColumn("pme", max($"e").over(
        byPos.rowsBetween(Long.MinValue, -1)))
      .withColumn("ns",
        when($"pme".isNull || $"pos" > $"pme" + 1, 1L).otherwise(0L))
      .withColumn("span_id", sum($"ns").over(
        byPos.rowsBetween(Long.MinValue, 0)))
      .groupBy($"doc_id", $"span_id")
      .agg(min($"pos").as("s"), max($"e").as("ee"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
           sum($"ee" - $"s" + 1).as("removed_tokens"))
      .persist()
    // doc roster from the PRE-explode relation: doc_id is unique, so
    // no distinct is needed — the old roster-from-shingles form paid
    // a 150M-row distinct shuffle for a relation the narrow scan
    // yields directly
    val docStats = tok.select($"doc_id", $"n_tokens")
    // clean docs join back as inner ∪ anti rather than a left join:
    // the result is identical, but a left join against the unique-key
    // span aggregate lets `count()`-style consumers prune the ENTIRE
    // shingle pipeline (row count = left count), which made the bench
    // measure 0.39 s for a ~20 s computation at sf10 — both branches
    // here genuinely depend on the span relation (persisted above, so
    // the window pipeline runs once, not per branch)
    val affected = docStats.join(spans, Seq("doc_id"))
      .select($"doc_id", $"n_tokens", $"n_spans", $"removed_tokens")
    val clean = docStats.join(spans, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"n_tokens",
        lit(0L).as("n_spans"), lit(0L).as("removed_tokens"))
    affected.unionByName(clean)
      .withColumn("removed_bp", expr("(10000 * removed_tokens) div n_tokens"))
  }

  /** Cross-document boilerplate profile (the CCNet/RefinedWeb
    * line-level dedup gate): a 10-word block occurring in ≥ 5
    * DISTINCT documents is boilerplate (headers, footers, template
    * text), and the gate removes EVERY occurrence — unlike
    * [[dedupParagraph]], which keeps first occurrences and drops only
    * later copies. Reported per source as block totals and the
    * basis-point boilerplate share, the knob a curation run turns
    * before committing to block-level removal.
    *
    * Plan shape: the corpus-sized shingle stream reduces to its
    * block-hash DOMAIN twice (distinct-doc count per hash; per-(hash,
    * source) occurrence counts — both map-side-combinable), and the
    * decision join runs hash-domain ⋈ hash-domain. Corpus-linear,
    * never doc×doc; no pair list is ever materialized.
    */
  def dedupBoilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val blocks = Tables.documents(spark, sfDir)
      .withColumn("words", expr("split(trim(text), ' +')"))
      .filter(size($"words") >= 10)
      .select($"source", $"doc_id",
        explode(expr(
          "transform(sequence(0, cast(size(words) div 10 as int) - 1), " +
            "b -> graft_md5lower64(array_join(slice(words, b*10+1, 10), ' ')))"))
          .as("h"))
    val nd = blocks.select($"h", $"doc_id").distinct()
      .groupBy($"h").agg(count(lit(1)).as("n_docs"))
    val hs = blocks.groupBy($"h", $"source").agg(count(lit(1)).as("cnt"))
    hs.join(nd, Seq("h"))
      .groupBy($"source")
      .agg(sum($"cnt").as("total_blocks"),
           sum(when($"n_docs" >= 5, $"cnt").otherwise(0L)).as("bp_blocks"))
      .select($"source", $"total_blocks", $"bp_blocks",
        expr("CAST((10000 * bp_blocks) div total_blocks AS BIGINT)")
          .as("bp_share_bp"))
  }
}
