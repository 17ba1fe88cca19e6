package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Similarity

class DedupSimSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  test("substr dedup: hand-computed span union (overlap, adjacency, within-doc, short-doc)") {
    import spark.implicits._
    // distinct token vocabularies except the INTENDED shared phrases,
    // so every duplicated 5-gram below is constructed, none accidental
    val docs = Seq(
      // clean: no 5-gram occurs twice anywhere
      (1L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
      // whole-doc exact pair: every position duplicated, ONE span
      (2L, "p1 p2 p3 p4 p5 p6 p7 p8"),
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8"),
      // WITHIN-doc repeat (multiplicity criterion): positions 0 and 6
      // share a hash, gap 6 > e(4)+1 → two separate spans
      (4L, "m1 m2 m3 m4 m5 z1 m1 m2 m3 m4 m5"),
      // OVERLAPPING duplicated windows (positions 0,1) merge: doc 5
      // fully covered; doc 6's unique trailing token survives
      (5L, "c1 c2 c3 c4 c5 c6"),
      (6L, "c1 c2 c3 c4 c5 c6 q1"),
      // ADJACENT spans merge: [0,4] (shared with doc 8) + [5,9]
      // (shared with doc 9) → one contiguous span covering doc 7
      (7L, "d1 d2 d3 d4 d5 e1 e2 e3 e4 e5"),
      (8L, "d1 d2 d3 d4 d5 f1"),
      (9L, "g1 e1 e2 e3 e4 e5"),
      // shorter than k: single whole-doc shingle, dup only as a pair
      (10L, "s1 s2 s3"),
      (11L, "s1 s2 s3")
    ).toDF("doc_id", "text")
    val got = Dedup.substrSpans(docs, k = 5)
      .select($"doc_id", $"n_tokens", $"n_spans",
        $"removed_tokens", $"removed_bp")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val want = Set(
      (1L, 10L, 0L, 0L, 0L),
      (2L, 8L, 1L, 8L, 10000L),
      (3L, 8L, 1L, 8L, 10000L),
      (4L, 11L, 2L, 10L, 9090L),
      (5L, 6L, 1L, 6L, 10000L),
      (6L, 7L, 1L, 6L, 8571L),
      (7L, 10L, 1L, 10L, 10000L),
      (8L, 6L, 1L, 5L, 8333L),
      (9L, 6L, 1L, 5L, 8333L),
      (10L, 3L, 1L, 3L, 10000L),
      (11L, 3L, 1L, 3L, 10000L))
    assert(got == want, s"span accounting mismatch:\n got ${got.toSeq.sortBy(_._1)}\nwant ${want.toSeq.sortBy(_._1)}")
  }

  test("band labels == driver-side union-find on the corpus band graph; chain merges") {
    import spark.implicits._
    // a path graph is the star algorithms' worst case (maximum
    // diameter per edge) and the chain shape the 2-hop propagation
    // bug class under-merges: 1-2-3-4-5-6-7 plus an isolated pair
    val chain = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L),
      (7L, 6L), (9L, 8L)).toDF("u", "v")
    val got = Dedup.starComponents(chain)
      .as[(Long, Long)].collect().toSet
    val want = (1L to 7L).map(i => (i, 1L)).toSet ++ Set((8L, 8L), (9L, 8L))
    assert(got == want, s"chain contraction wrong: $got")
    // corpus cross-check: the production labeling must equal a plain
    // union-find over the collected band rows (docs sharing a bucket
    // are joined; each set's root is kept at its smallest doc_id)
    val docs = graft.core.Tables.documents(spark, sf)
    val bands = Dedup.minhashBands(docs).persist()
    try {
      val star = Dedup.bandLabels(bands).as[(Long, Long)].collect().toMap
      val rows = bands.select($"doc_id", $"band_idx", $"band_hash").collect()
      val parent = collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((_, bucket) <- rows.groupBy(r => (r.get(1), r.get(2))); r <- bucket) {
        val (a, b) = (find(bucket.head.getLong(0)), find(r.getLong(0)))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
      val uf = rows.map(_.getLong(0)).distinct.map(d => d -> find(d)).toMap
      assert(star.size == docs.count())
      assert(star.values.toSet.size < star.size, "vacuous: no doc shares a bucket")
      assert(star == uf, "star labeling diverges from the union-find")
    } finally bands.unpersist()
  }

  test("minhash clustering co-clusters exact near-dup pairs (j >= 0.9)") {
    import spark.implicits._
    val exact = Dedup.dedupNgram(spark, sf)
      .select($"doc_id_1", $"doc_id_2").as[(Long, Long)].collect()
    val rep = Dedup.dedupMinhash(spark, sf)
      .select($"doc_id", $"cluster_rep").as[(Long, Long)].collect().toMap
    // MinHash is probabilistic (8×8 banding: ~1% bucket-miss at
    // j=0.9) and min-propagation is two hops — allow 5% slack
    val split = exact.count { case (a, b) => rep(a) != rep(b) }
    assert(split <= math.max(1, exact.length / 20),
      s"$split of ${exact.length} near-dup pairs ended in different clusters")
    // every document got a decision, reps are self-consistent
    assert(rep.size == graft.core.Tables.documents(spark, sf).count())
    assert(rep.values.forall(r => rep(r) <= r))
  }

  test("band components: fixpoint merges a chain the 2-hop propagation under-merges") {
    import spark.implicits._
    // chain A~B~C~D~E through 4 buckets: (1,2) (2,3) (3,4) (4,5) —
    // the ends share no bucket, so the component only closes by
    // propagating labels along the chain (diameter 4)
    val bands = Seq(
      (1L, 0, 10L), (2L, 0, 10L),
      (2L, 1, 20L), (3L, 1, 20L),
      (3L, 2, 30L), (4L, 2, 30L),
      (4L, 3, 40L), (5L, 3, 40L),
      // an isolated doc keeps its own label
      (9L, 0, 99L)
    ).toDF("doc_id", "band_idx", "band_hash")
    // the fixpoint closes the whole chain to min-id 1
    val fix = Dedup.bandLabels(bands)
      .as[(Long, Long)].collect().toMap
    assert(fix == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
                      9L -> 9L))
    // replay dedupMinhash's 2 unrolled min-propagation hops on the
    // same relation: doc 5 stops at 3 — under-merged, which is
    // exactly why dedup_components exists
    val bucketMin1 = bands.groupBy($"band_idx", $"band_hash")
      .agg(min($"doc_id").as("bucket_rep"))
    val r1 = bands.join(bucketMin1, Seq("band_idx", "band_hash"))
      .groupBy($"doc_id").agg(min($"bucket_rep").as("rep"))
    val bucketMin2 = bands.join(r1, Seq("doc_id"))
      .groupBy($"band_idx", $"band_hash").agg(min($"rep").as("bucket_rep"))
    val twoHop = bands.join(bucketMin2, Seq("band_idx", "band_hash"))
      .groupBy($"doc_id").agg(min($"bucket_rep").as("rep"))
      .as[(Long, Long)].collect().toMap
    assert(twoHop(5L) == 3L, "expected the 2-hop replay to under-merge the chain end")
    assert(fix(5L) == 1L)
  }

  test("incremental dedup: exact dups are near dups, decisions partition the batch") {
    import spark.implicits._
    val d = Dedup.dedupIncremental(spark, sf)
    // every batch doc gets exactly one decision row
    val batchDocs = graft.core.Tables.documents(spark, sf)
      .filter($"doc_id" % 4 === 0).count()
    assert(d.count() == batchDocs)
    // exact ⊂ near: an identical corpus doc shares all 8 bands, so an
    // exact dup must also have band matches
    assert(d.filter($"is_exact_dup" && $"n_corpus_matches" === 0).count() == 0)
    // decision is consistent with the counters
    assert(d.filter($"decision" === "keep" && $"n_corpus_matches" > 0).count() == 0)
    assert(d.filter($"decision" === "exact_dup" && !$"is_exact_dup").count() == 0)
  }

  test("ngram slice-closure: sliced-input pairs == full pairs with both ends in the slice") {
    import spark.implicits._
    // the property behind the dedup_ngram_slice sf10 gate: the pair
    // relation is EXACT, so restricting the input docs restricts the
    // output to exactly the pairs whose BOTH endpoints survive. Test
    // modulus 4 (the key uses 16) so the test corpus yields pairs.
    val docs = graft.core.Tables.documents(spark, sf)
    val sliced = Dedup.ngramPairs(docs.filter($"doc_id" % 4 === 0), 9000)
    val filtered = Dedup.ngramPairs(docs, 9000)
      .filter($"doc_id_1" % 4 === 0 && $"doc_id_2" % 4 === 0)
    assert(sliced.count() > 0, "vacuous slice — raise the test corpus")
    assert(sliced.exceptAll(filtered).isEmpty &&
           filtered.exceptAll(sliced).isEmpty,
      "slice-closure violated: sliced output != filtered full output")
  }

  test("stored-index increment path decides identically to the derive-per-run path") {
    // dedup_incremental_stored reads the PRE-COLLAPSED class
    // relations from the DedupIngest store; its decision relation
    // must equal dedupIncremental's row for row (same oracle gates
    // both keys). The SeedCache key now embeds a code fingerprint
    // (stale replays across code versions are structurally
    // impossible); the wipe below just forces the SEED path itself to
    // run fresh in every test run.
    val cache = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft-dedup-index")
    if (cache.exists())
      cache.listFiles().foreach { d =>
        d.listFiles().foreach(deep => {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
          rm(deep) })
        d.delete()
      }
    val derived = Dedup.dedupIncremental(spark, sf)
    val stored = Dedup.dedupIncrementalStored(spark, sf)
    assert(derived.exceptAll(stored).isEmpty &&
           stored.exceptAll(derived).isEmpty,
      "stored-index decisions diverged from the derive-per-run path")
  }

  test("simhash pairs are symmetric-free and within hamming bound") {
    import spark.implicits._
    val r = Dedup.dedupSimhash(spark, sf)
    assert(r.filter($"doc_id_1" >= $"doc_id_2").count() == 0)
    assert(r.filter($"hamming" > 3).count() == 0)
  }

  test("exact dedup groups cover every document exactly once") {
    import spark.implicits._
    val total = Dedup.dedupExact(spark, sf).agg(sum($"n_docs")).as[Long].head()
    assert(total == graft.core.Tables.documents(spark, sf).count())
  }

  test("embed near-dups only pair within a label block") {
    import spark.implicits._
    val e = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"label")
    val r = Dedup.dedupEmbed(spark, sf)
      .join(e.withColumnRenamed("vec_id", "vec_id_1")
             .withColumnRenamed("label", "l1"), Seq("vec_id_1"))
      .join(e.withColumnRenamed("vec_id", "vec_id_2")
             .withColumnRenamed("label", "l2"), Seq("vec_id_2"))
    assert(r.filter($"l1" =!= $"l2").count() == 0)
  }

  test("multi-table LSH ANN recall vs brute force >= 0.5") {
    import spark.implicits._
    val brute = Similarity.simBruteTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.simLshAnn(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    info(s"LSH ANN recall = $recall")
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("PQ ANN: codes compress to M codes per vector, recall beats chance") {
    import spark.implicits._
    val brute = Similarity.simBruteTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.simPqAnn(spark, sf)
    // exactly 5 neighbors per query, none self
    val perQuery = pq.groupBy($"query_id").count()
      .filter($"count" =!= 5).count()
    assert(perQuery == 0)
    assert(pq.filter($"query_id" === $"neighbor_id").count() == 0)
    val got = pq.select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & got).size.toDouble / brute.size
    info(s"PQ ANN recall = $recall")
    // label-trained codebooks are a coarse quantizer: require well
    // above chance (random-5-of-corpus recall ~ 5/N < 0.02), below
    // the dedicated LSH/IVF paths
    assert(recall >= 0.2, s"recall $recall too low")
  }

  test("two-stage PQ re-rank: recall >= plain PQ and >= 0.5") {
    import spark.implicits._
    val brute = Similarity.simBruteTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.simPqAnn(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val rr = Similarity.simPqRerank(spark, sf)
    val perQuery = rr.groupBy($"query_id").count()
      .filter($"count" =!= 5).count()
    assert(perQuery == 0)
    assert(rr.filter($"query_id" === $"neighbor_id").count() == 0)
    val got = rr.select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val pqRecall = (brute & pq).size.toDouble / brute.size
    val rrRecall = (brute & got).size.toDouble / brute.size
    info(s"PQ recall = $pqRecall, rerank recall = $rrRecall")
    // a 100-wide ADC shortlist keeps the true top-5 far more often
    // than a 5-wide one, and the exact re-rank orders it perfectly —
    // recall must dominate plain PQ and clear the LSH/IVF floor
    assert(rrRecall >= pqRecall, s"rerank $rrRecall < plain PQ $pqRecall")
    assert(rrRecall >= 0.5, s"recall $rrRecall too low")
  }

  test("sim operators accept an arbitrary external query set") {
    import spark.implicits._
    // queries that do NOT exist in the corpus: corpus vectors 20..24
    // under fresh ids. Their nearest corpus neighbor is their own
    // twin at cosine 1.0 — an exact, corpus-independent oracle.
    val ext = graft.core.Tables.embeddings(spark, sf)
      .filter($"vec_id" >= 20 && $"vec_id" < 25)
      .select(($"vec_id" + 1000000L).as("query_id"),
              $"embedding".cast("array<double>").as("qv"))
    val brute = Similarity.simBruteTopk(spark, sf, ext)
    val top1 = brute.filter($"rank" === 1)
      .select($"query_id", $"neighbor_id", $"cosine")
      .as[(Long, Long, Double)].collect()
    assert(top1.length == 5)
    assert(top1.forall { case (q, n, c) => n == q - 1000000L && c == 1.0 },
      s"expected each external query's twin at cosine 1.0, got ${top1.toSeq}")
    // the two-stage path accepts the same query frame and fills top-5
    val rr = Similarity.simPqRerank(spark, sf, ext)
    assert(rr.groupBy($"query_id").count().filter($"count" =!= 5).count() == 0)
    // the twin survives the 100-wide ADC shortlist and wins re-rank
    val rrTop1 = rr.filter($"rank" === 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
    assert(rrTop1.forall { case (q, n) => n == q - 1000000L })
    // an external query_id that COLLIDES with a corpus vec_id must
    // not silently drop that corpus vector: this query carries vector
    // 20's embedding under query_id 20, and its corpus twin (vec_id
    // 20) must still come back at rank 1 / cosine 1.0 — self-id
    // exclusion applies only to the corpus-derived default query set
    val collide = graft.core.Tables.embeddings(spark, sf)
      .filter($"vec_id" === 20)
      .select($"vec_id".as("query_id"),
              $"embedding".cast("array<double>").as("qv"))
    val cTop1 = Similarity.simBruteTopk(spark, sf, collide)
      .filter($"rank" === 1)
      .select($"neighbor_id", $"cosine").as[(Long, Double)].collect()
    assert(cTop1.toSeq == Seq((20L, 1.0)),
      s"colliding external id dropped its corpus twin: ${cTop1.toSeq}")
  }

  test("brute-force top-k is ranked by descending cosine") {
    import spark.implicits._
    val bad = Similarity.simBruteTopk(spark, sf)
      .withColumn("prev", lag($"cosine", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"query_id").orderBy($"rank")))
      .filter($"prev".isNotNull && $"prev" < $"cosine")
      .count()
    assert(bad == 0)
  }

  test("IVF ANN recall vs brute force >= 0.5, cells honored") {
    import spark.implicits._
    val brute = Similarity.simBruteTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.simIvfAnn(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    info(s"IVF ANN recall = $recall")
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("IVFADC (IVF+PQ): 5 per query from probed cells only, recall beats chance") {
    import spark.implicits._
    val ivfpq = Similarity.simIvfPqAnn(spark, sf)
    assert(ivfpq.groupBy($"query_id").count().filter($"count" =!= 5).count() == 0)
    assert(ivfpq.filter($"query_id" === $"neighbor_id").count() == 0)
    // every returned neighbor must live in one of its query's probed
    // cells — the candidate restriction IS the operator's contract
    val labels = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id".as("neighbor_id"), $"label")
    val probed = Similarity.probeCells(spark, sf,
        Similarity.defaultQueries(spark, sf))
      .as[(Long, Int)].collect().toSet
    val gotCells = ivfpq.join(labels, Seq("neighbor_id"))
      .select($"query_id", $"label").distinct()
      .as[(Long, Int)].collect().toSet
    assert(gotCells.subsetOf(probed),
      s"neighbors outside the probe set: ${(gotCells -- probed).take(5)}")
    val brute = Similarity.simBruteTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val got = ivfpq.select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (brute & got).size.toDouble / brute.size
    info(s"IVFADC recall = $recall")
    // bounded by BOTH the probe miss rate and PQ ranking error —
    // require well above chance (~5/N < 0.02), like the plain PQ spec
    assert(recall >= 0.15, s"recall $recall too low")
  }

  test("graph jaccard: clone-class algebra matches the hand-computed clique fixture") {
    import spark.implicits._
    // the oracle corpora have all-distinct vectors (singleton classes),
    // so the clone branch of the class algebra — the branch the sf10
    // GenScale bench actually exercises — is pinned here instead:
    // A=(1,0)x3 ~ B=(.8,.6)x2 ~ C=(.2,.98)x1, A!~C (cos .2 < .35),
    // plus an other-label clone of A that must contribute nothing.
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val emb = Seq(
      (0L, v(1, 0), 0), (1L, v(1, 0), 0), (2L, v(1, 0), 0),
      (10L, v(0.8, 0.6), 0), (11L, v(0.8, 0.6), 0),
      (20L, v(0.2, 0.98), 0),
      (30L, v(1, 0), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = graft.graph.Graph.graphJaccard(emb)
      .as[(Long, Long)].collect().toMap
    // node-space hand computation: within-A pairs (3) j=6000;
    // within-B (1) j=6666; AxB (6) j=5000; AxC (3) j=5000 via the
    // shared neighbor class B despite A!~C; BxC (2) j=1666
    assert(got == Map(6L -> 4L, 5L -> 9L, 1L -> 2L))
  }

  test("keep one: longest doc wins its cluster, min-id tie-break, singletons keep themselves") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-keepone").toString
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    // docs 1/2/3 share an identical word SET (identical minhash
    // signature -> one cluster, component = 1) but differ in LENGTH:
    // doc 2 repeats words, so it is the longest and must be keeper;
    // doc 3 ties doc 1 on length with a higher id. Doc 9's vocabulary
    // is disjoint -> a singleton that keeps itself.
    Seq((1L, base, "s"), (2L, base + " w1 w2 w3", "s"),
        (3L, base, "s"),
        (9L, (1 to 20).map(i => s"z$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.dedup.Dedup.dedupKeepOne(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, 2L, false), (2L, 1L, 2L, true),
                      (3L, 1L, 2L, false), (9L, 9L, 9L, true)))
  }

  test("recall eval: LSH catches >= the 1-(1-s^8)^8 bound on j>=0.9 fixture pairs; audit slice rule holds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-recall").toString
    // 10 clusters, ids all ≡ 0 (mod 4) so every doc is ON the audit
    // slice. Per cluster i: A = 20 distinct tokens, B = A minus one
    // (j = 19/20 = 0.95), C = A minus five (j(A,C) = 15/20 = 0.75,
    // j(B,C) = 15/19 ≈ 0.789). Truth pairs: 10 at j ≥ 0.9, 10 more
    // in [0.8, 0.9) — none (0.789 < 0.8) — and 30 total at j ≥ 0.7.
    // A decoy pair OFF the slice (ids ≡ 1 mod 4) with j = 1 must not
    // count — that pins the doc_id % 4 contract.
    def toks(i: Int, n: Int) = (1 to n).map(k => s"c${i}t$k").mkString(" ")
    val docs = (0 until 10).flatMap { i =>
      val base = 400L + i * 12
      Seq((base, toks(i, 20), "s"), (base + 4, toks(i, 19), "s"),
          (base + 8, toks(i, 15), "s"))
    } ++ Seq((1001L, toks(99, 20), "s"), (1005L, toks(99, 20), "s"))
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.dedup.Dedup.dedupRecallEval(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(got.size == 6, s"expected 2 methods x 3 thresholds, got $got")
    // slice rule: the decoy j=1 pair (ids 1001/1005) is off-slice
    assert(got(("minhash_lsh", 9000L))._1 == 10L,
      s"truth@9000 should be the 10 on-slice j=0.95 pairs: $got")
    assert(got(("minhash_lsh", 7000L))._1 == 30L,
      s"truth@7000 should be 30 on-slice pairs: $got")
    // the documented 8x8 LSH bound at s = 0.9 is 1-(1-0.9^8)^8 ≈
    // 0.98898; the fixture's j>=0.9 pairs sit at 0.95 where the bound
    // is 0.99983 — with fixed md5 hashes the outcome is deterministic
    // and must not fall below the s=0.9 bound
    val lsh9 = got(("minhash_lsh", 9000L))
    assert(lsh9._3 >= 9890L,
      s"LSH recall@0.9 below the 1-(1-s^8)^8 bound: $lsh9")
    // recall is monotone non-increasing as the threshold drops (lower
    // jaccard mass is strictly harder for any blocking)
    val mh = Seq(7000L, 8000L, 9000L).map(t => got(("minhash_lsh", t))._3)
    assert(mh(0) <= mh(1) && mh(1) <= mh(2),
      s"LSH recall not monotone in threshold: $mh")
  }

  test("recall eval slice-rate knob: truth pairs scale with recallAuditSliceMod, recall stays unbiased") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-recallmod").toString
    // 10 clusters whose ids are multiples of 8 (on the slice at mod
    // 2, 4 AND 8) with the same A/B/C structure as the fixture above
    // (10 truth pairs at j = 0.95, 30 at j >= 0.7), plus one exact
    // pair at ids ≡ 4 (mod 8): on the slice at mod 2 and mod 4, OFF
    // at mod 8 — that pins the knob actually changing the slice.
    def toks(i: Int, n: Int) = (1 to n).map(k => s"m${i}t$k").mkString(" ")
    val docs = (0 until 10).flatMap { i =>
      val base = 800L + i * 24
      Seq((base, toks(i, 20), "s"), (base + 8, toks(i, 19), "s"),
          (base + 16, toks(i, 15), "s"))
    } ++ Seq((2004L, toks(99, 20), "s"), (2012L, toks(99, 20), "s"))
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def run(mod: Option[Int]) = {
      mod.foreach(m =>
        spark.conf.set("spark.graft.recallAuditSliceMod", m.toString))
      try graft.dedup.Dedup.dedupRecallEval(spark, dir)
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
      finally spark.conf.unset("spark.graft.recallAuditSliceMod")
    }
    val at2 = run(Some(2)); val at4 = run(Some(4)); val at8 = run(Some(8))
    // the decoy j=1 pair (2004/2012) is on-slice at mod 2 and 4,
    // off-slice at mod 8 — truth counts move exactly by that pair
    assert(at2(("minhash_lsh", 9000L))._1 == 11L, s"mod2: $at2")
    assert(at4(("minhash_lsh", 9000L))._1 == 11L, s"mod4: $at4")
    assert(at8(("minhash_lsh", 9000L))._1 == 10L, s"mod8: $at8")
    assert(at8(("minhash_lsh", 7000L))._1 == 30L, s"mod8: $at8")
    // recall_bp is a per-slice ratio: it clears the LSH bound at every
    // rate (identical docs share all bands, the clusters sit at 0.95)
    for ((m, got) <- Seq(2 -> at2, 4 -> at4, 8 -> at8))
      assert(got(("minhash_lsh", 9000L))._3 >= 9890L,
        s"mod $m recall below bound: ${got(("minhash_lsh", 9000L))}")
    // the default (no conf) IS mod 4 — the rate the oracle replays
    assert(run(None) == at4, "default slice is not mod 4")
  }

  test("clustco: clique nodes bucket 10, open wedge center 0, degree<2 bucket -1") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-clustco").toString
    def v(x: Double, y: Double, z: Double) =
      Array(x.toFloat, y.toFloat, z.toFloat)
    // one cell: clique {1,2,3,4} (identical vectors, cos 1 → C=1,
    // bucket 10); open wedge 6-7, 6-8 with cos(7,8)=0 (center 6:
    // d=2, T=0 → bucket 0; leaves d=1 → -1); 5 orthogonal to all
    // (d=0 → -1). Cross-group cosines are all 0 by construction.
    Seq((1L, v(0, 0, 1), 0), (2L, v(0, 0, 1), 0), (3L, v(0, 0, 1), 0),
        (4L, v(0, 0, 1), 0), (5L, v(0, -1, 0) /* vs wedge: ±0 */, 1),
        (6L, v(math.sqrt(0.5), math.sqrt(0.5), 0), 0),
        (7L, v(1, 0, 0), 0), (8L, v(0, 1, 0), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.graph.Graph.graphClustco(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 4L, 0L -> 1L, -1L -> 3L))
  }

  test("index profile: shares and scan cost exact-integer, coherence sums member cosines") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-idxprof").toString
    // cell 0: three identical unit vectors (centroid = the vector,
    // cos 1 each → coherence 3.0); cell 1: a single vector (cos 1 →
    // 1.0). total=4, Σn²=10: shares 7500/2500 bp, scan 9000/1000 bp —
    // the hot cell takes 3x the corpus share but 9x the scan cost,
    // the quadratic imbalance the profile exists to expose.
    Seq((1L, Array(1f, 0f), 0), (2L, Array(1f, 0f), 0),
        (3L, Array(1f, 0f), 0), (4L, Array(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.similarity.Similarity.simIndexProfile(spark, dir)
      .as[(Int, Long, Long, Long, Double)].collect().toSet
    assert(got == Set((0, 3L, 7500L, 9000L, 3.0), (1, 1L, 2500L, 1000L, 1.0)))
  }

  test("3-core peel: clique survives, pendant + chain cascade away") {
    import spark.implicits._
    // clique {1,2,3,4} (degree 3 each — the fixpoint); 5 ~ {1,2,6}
    // (degree 3 INITIALLY, but only via 6); 6 ~ {5,3} (degree 2 —
    // peeled round 1), which drops 5 to degree 2 → peeled round 2:
    // the cascade the single-pass degree filter would miss. 7 is an
    // isolated node — must still appear with core_degree 0.
    val und = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (5L, 2L), (5L, 6L), (6L, 3L)).toDF("a", "b")
    val sym = und.union(und.select($"b".as("a"), $"a".as("b")))
    val nodes = (1L to 7L).toDF("vec_id")
    val got = graft.graph.Graph.kcoreOnEdges(sym, nodes, 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
                      5L -> 0L, 6L -> 0L, 7L -> 0L))
  }

  test("nsw base graph: fused cell generator == cellTopK ∪ ring ∪ distinct") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // r19 fuses knnEdges' three-relation shape into one packed-cell
    // generator; the edge SET must be identical to the unfused twin
    // (top-5 within-cell cosine edges ∪ next-2 hash-ring successors,
    // deduplicated) on the real corpus.
    val vecs = graft.core.Tables.embeddings(spark, sf)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("label"), col("v"))
    val fused = graft.similarity.Similarity.knnEdges(vecs)
      .collect().toSet
    val prox = vecs.groupBy($"label")
      .agg(collect_list(struct($"vec_id", $"v")).as("vecs"))
      .select($"label", graft.functions.cellTopK($"vecs", 5)
        .as(Seq("vec_id", "neighbor_id", "rank", "cosine")))
      .select($"vec_id", $"label", $"neighbor_id")
    val unfused = prox
      .unionByName(graft.similarity.Similarity.ringEdges(vecs))
      .distinct().collect().toSet
    assert(fused.nonEmpty)
    assert(fused == unfused,
      s"fused-only: ${(fused -- unfused).take(5)}; " +
        s"unfused-only: ${(unfused -- fused).take(5)}")
  }

  test("3-core peel: already-converged input is the identity (empty first peel set)") {
    import spark.implicits._
    // Each peel round checkpoints the low-degree peel set, then tests
    // it for emptiness. An input that is ALREADY a 3-core fixpoint has
    // an empty first peel set, so it must come back untouched with no
    // peel round run — convergence, not an over-peel.
    val und = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val sym = und.union(und.select($"b".as("a"), $"a".as("b")))
    val nodes = (1L to 4L).toDF("vec_id")
    val got = graft.graph.Graph.kcoreOnEdges(sym, nodes, 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("coreness: tiers assigned by the last survived phase, isolated = 0") {
    import spark.implicits._
    // 4-clique {1,2,3,4} (degree 3 → coreness 3); pendant 5 ~ 1 and
    // chain 6–7 (degree 1 → coreness 1); triangle {9,10,11}
    // (degree 2 → coreness 2); 8 isolated (coreness 0). The pendant
    // peel at phase 2 drops node 1's degree 4 → 3, which must NOT
    // drop it below the phase-3 bar — nesting, not restarting.
    val und = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (6L, 7L),
      (9L, 10L), (10L, 11L), (9L, 11L)).toDF("a", "b")
    val sym = und.union(und.select($"b".as("a"), $"a".as("b")))
    val nodes = (1L to 11L).toDF("vec_id")
    val got = graft.graph.Graph.corenessOnEdges(sym, nodes)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 1L, 1L -> 3L, 2L -> 3L, 3L -> 4L))
  }

  test("coreness ties out against kcore: the >=3 tiers ARE the 3-core") {
    import spark.implicits._
    // cross-operator exactness on the real corpus: the coreness
    // histogram's >= 3 mass must equal graph_kcore's membership
    // count (core_degree > 0), and the histogram must cover every
    // vector exactly once
    val hist = graft.graph.Graph.graphCoreness(spark, sf)
      .as[(Long, Long)].collect().toMap
    val nVecs = graft.core.Tables.embeddings(spark, sf).count()
    assert(hist.values.sum == nVecs, s"histogram mass $hist != $nVecs")
    val core3 = graft.graph.Graph.graphKcore(spark, sf)
      .filter($"core_degree" > 0).count()
    val tier3plus = hist.filter(_._1 >= 3).values.sum
    assert(tier3plus == core3,
      s"coreness>=3 mass $tier3plus != 3-core membership $core3")
  }

  test("graph components: edges never cross components, reps are member minima") {
    import spark.implicits._
    val comp = graft.graph.Graph.graphComponents(spark, sf)
      .select($"vec_id", $"component").as[(Long, Long)].collect().toMap
    val edges = Dedup.dedupEmbed(spark, sf)
      .select($"vec_id_1", $"vec_id_2").as[(Long, Long)].collect()
    assert(edges.nonEmpty, "no near-dup edges at this SF — test is vacuous")
    edges.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"edge ($a,$b) crosses components")
    }
    comp.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.keys.min == rep,
        s"component $rep rep is not its smallest member")
    }
  }

  test("paragraph dedup: block accounting exact, whole-doc dups fully removed") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
    val p = Dedup.dedupParagraph(spark, sf)
    // one row per document; short docs pass through with 0 blocks
    assert(p.count() == docs.count())
    assert(p.filter($"removed_blocks" > $"n_blocks").count() == 0)
    assert(p.filter($"n_blocks" === 0 && $"removed_bp" =!= 0).count() == 0)
    // global exactness: kept blocks == distinct block hashes. Recompute
    // the block relation with the operator's own expression and compare
    // totals — first-occurrence-wins keeps exactly one copy per hash.
    val blocks = docs
      .withColumn("words", expr("split(trim(text), ' +')"))
      .filter(size($"words") >= 10)
      .select(explode(expr(
        "transform(sequence(0, cast(size(words) div 10 as int) - 1), " +
          "b -> graft_md5lower64(array_join(slice(words, b*10+1, 10), ' ')))"))
        .as("h"))
    val totals = p.agg(sum($"n_blocks"), sum($"removed_blocks")).head()
    assert(totals.getLong(0) == blocks.count())
    assert(totals.getLong(0) - totals.getLong(1) ==
      blocks.distinct().count(),
      "kept blocks != distinct block hashes — first-occurrence rule broken")
    // an exact-dup document (same text as a lower doc_id) loses ALL its
    // blocks: every block hash already occurred in the earlier copy
    val laterExactDups = docs
      .withColumn("content_hash", md5(lower(trim($"text"))))
      .withColumn("first", min($"doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"content_hash")))
      .filter($"doc_id" =!= $"first")
      .select($"doc_id")
    val partial = laterExactDups.join(p, "doc_id")
      .filter($"n_blocks" > 0 && $"removed_bp" =!= 10000)
    assert(partial.count() == 0,
      "a later exact-duplicate doc kept some of its blocks")
  }

  test("recall eval: agrees with a direct intersection recompute") {
    import spark.implicits._
    val ev = Similarity.simRecallEval(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    val nq = Similarity.simBruteTopk(spark, sf)
      .select($"query_id").distinct().count()
    assert(ev.length == 8 * nq, s"${ev.length} rows for $nq queries")
    assert(ev.map(_._2).distinct.sorted.toSeq ==
      Seq("binary", "ivf", "ivfpq", "lsh", "matryoshka", "pq",
          "pq_rerank", "sq8"))
    assert(ev.forall { case (_, _, h, bp) =>
      h >= 0 && h <= 5 && bp == 2000 * h })
    // recompute one method's hits by hand
    val brute = Similarity.simBruteTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lsh = Similarity.simLshAnn(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    ev.filter(_._2 == "lsh").foreach { case (q, _, h, _) =>
      val want = lsh.getOrElse(q, Set.empty)
        .intersect(brute.getOrElse(q, Set.empty)).size
      assert(h == want, s"query $q lsh hits $h != recomputed $want")
    }
  }

  test("pagerank: integer recurrence matches a plain-Scala replay") {
    import spark.implicits._
    // star hub 1 → leaves 2,3,4 (degree asymmetry — a REGULAR graph
    // sits exactly at the 10⁹ fixed point: rank' = 0.15e9+0.85·rank),
    // a disjoint 1-regular pair (5-6), isolated nodes 7..9
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
    val symSeq = pairs ++ pairs.map(p => (p._2, p._1))
    val got = graft.graph.Graph.pagerankOnEdges(
      symSeq.toDF("a", "b"), (1L to 9L).toDF("vec_id"))
      .as[(Long, Long)].collect().toMap
    // replay the exact integer recurrence in plain Scala
    val adj = symSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    var r = adj.keys.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 10) {
      val in = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((u, vs) <- adj; v <- vs) in(v) += r(u) / deg(u)
      r = adj.keys.map(v => v -> (150000000L + 85 * in(v) / 100)).toMap
    }
    val expected =
      (1L to 9L).map(v => v -> r.getOrElse(v, 150000000L)).toMap
    assert(got == expected,
      s"distributed ranks diverge from the scalar replay: $got vs $expected")
    // structure sanity: the hub collects three whole leaf ranks per
    // hop and outranks its leaves; leaves tie; the 1-regular pair
    // sits at the 10⁹ fixed point; isolated = closed-form no-inlink
    assert(got(2L) == got(3L) && got(3L) == got(4L))
    assert(got(1L) > got(2L), s"hub ${got(1L)} !> leaf ${got(2L)}")
    assert(got(5L) == 1000000000L && got(6L) == 1000000000L)
    assert(got(7L) == 150000000L && got(8L) == 150000000L)
    // corpus run: one row per vector, isolated vectors at the
    // closed-form rank, everything at or above it
    val corpus = graft.graph.Graph.graphPagerank(spark, sf)
    assert(corpus.count() ==
      graft.core.Tables.embeddings(spark, sf).count())
    assert(corpus.filter($"rank_e9" < 150000000L).count() == 0)
  }

  test("semantic dedup: decisions agree with the embed pair list") {
    import spark.implicits._
    val dec = Dedup.dedupSemantic(spark, sf)
    val pairs = Dedup.dedupEmbed(spark, sf)
      .select($"vec_id_1", $"vec_id_2").as[(Long, Long)].collect()
    val emb = graft.core.Tables.embeddings(spark, sf)
    assert(dec.count() == emb.count())
    // drop set == exactly the ids with a lower-id neighbor at the same
    // threshold, and the blame is the smallest such neighbor
    val expected = pairs.groupBy(_._2).map { case (b, ps) =>
      b -> ps.map(_._1).min }
    val got = dec.filter($"action" === "drop")
      .select($"vec_id", $"dup_of").as[(Long, Long)].collect().toMap
    assert(got == expected,
      s"drop decisions diverge from the pair list (${got.size} vs ${expected.size})")
    // first-in-cluster always survives: the smallest vec_id of every
    // label has no lower-id neighbor by construction
    val firstPerLabel = emb.groupBy($"label")
      .agg(min($"vec_id").as("vec_id")).select($"vec_id")
    assert(firstPerLabel.join(dec.filter($"action" === "drop"), "vec_id")
      .count() == 0, "a cluster's first vector was dropped")
  }

  test("threshold sweep: buckets tile the range and agree with dedup_embed at 0.35") {
    import spark.implicits._
    val sweep = graft.similarity.Similarity.simThresholdSweep(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sweep.nonEmpty)
    // buckets are 500-bp floors within the swept range
    assert(sweep.forall { case (b, _, _) =>
      b % 500 == 0 && b >= 1000 && b <= 10000 })
    // the cumulative column really is the from-the-top running sum
    val byDesc = sweep.sortBy(-_._1)
    assert(byDesc.scanLeft(0L)(_ + _._2).tail.zip(byDesc.map(_._3))
      .forall { case (want, got) => want == got },
      "n_pairs_ge is not the descending cumulative of n_pairs")
    // cross-operator: pairs at >= 0.35 must equal dedup_embed's output
    // (same cells, same generator floor, same rounding)
    val ge35 = sweep.filter(_._1 >= 3500).map(_._2).sum
    assert(ge35 == graft.dedup.Dedup.dedupEmbed(spark, sf).count(),
      "sweep mass at >= 0.35 diverges from dedup_embed")
  }

  test("kmeans: exact scalar replay of the full Lloyd trajectory") {
    import spark.implicits._
    val k = 8; val iters = 3
    val got = graft.similarity.Similarity.simKmeans(spark, sf, k, iters)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // driver-side replay of the identical integer pipeline: e6
    // quantization (HALF_UP, Spark round semantics), seeds = the k
    // smallest vec_ids in order, strict-nearest assignment with ties
    // to the lowest positional centroid, per-dim sum/count truncated
    // toward zero, empty clusters carrying their previous centroid
    val vecs = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map { r =>
        r.getLong(0) -> r.getSeq[Float](1).map(f =>
          java.math.BigDecimal.valueOf(1000000.0 * f.toDouble)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()).toArray
      }.sortBy(_._1)
    var cents = vecs.filter(_._1 < k).map(_._2.clone())
    def nearest(v: Array[Long]): (Int, Long) = {
      var best = -1; var bestD = Long.MaxValue
      for (c <- cents.indices) {
        var d = 0L
        for (j <- v.indices) { val t = v(j) - cents(c)(j); d += t * t }
        if (d < bestD) { bestD = d; best = c }
      }
      (best, bestD)
    }
    for (_ <- 1 to iters) {
      val assigned = vecs.map { case (_, v) => (nearest(v)._1, v) }
      cents = cents.zipWithIndex.map { case (old, c) =>
        val members = assigned.filter(_._1 == c).map(_._2)
        if (members.isEmpty) old
        else Array.tabulate(old.length)(j => members.map(_(j)).sum / members.length)
      }
    }
    val want = vecs.map { case (id, v) => id -> nearest(v) }.toMap
    assert(got == want, s"kmeans diverges from the scalar replay " +
      s"(${got.count { case (id, a) => want.get(id).contains(a) }}/${want.size} agree)")
    // the clustering is non-trivial: more than one cluster in use
    assert(got.values.map(_._1).toSet.size > 1)
  }

  test("SQ8 ANN: recall vs brute force >= 0.5, codes stay in [0, 255]") {
    import spark.implicits._
    val brute = Similarity.simBruteTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sq = Similarity.simSqAnn(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sq.keySet == brute.keySet)
    // every query returns exactly 5 (shortlist 20 ⊇ 5 always exists)
    assert(sq.values.forall(_.size == 5))
    val recall = brute.map { case (q, b) =>
      (sq(q) & b).size.toDouble / b.size }.sum / brute.size
    assert(recall >= 0.5, s"SQ8 recall $recall below 0.5")
  }

  test("binary ANN: packed-code hamming == differing-sign count, recall beats chance") {
    import spark.implicits._
    // the packed 8-byte code's xor+popcount must equal an unpacked
    // per-dimension sign comparison (incl. the i=63 sign bit, which
    // shiftleft maps to Long.MinValue — sum still bit-exact)
    val vecs = graft.core.Tables.embeddings(spark, sf)
      .withColumn("v", $"embedding".cast("array<double>"))
      .filter($"vec_id" < 40)
      .select($"vec_id", $"v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def code(v: Seq[Double]): Long =
      v.zipWithIndex.map { case (x, i) => if (x > 0) 1L << i else 0L }.sum
    for (a <- vecs.keys.take(10); b <- vecs.keys.take(10) if a < b) {
      val packed = java.lang.Long.bitCount(code(vecs(a)) ^ code(vecs(b)))
      val direct = vecs(a).zip(vecs(b)).count { case (x, y) => (x > 0) != (y > 0) }
      assert(packed == direct, s"hamming mismatch for ($a, $b)")
    }
    val brute = Similarity.simBruteTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bin = Similarity.simBinaryAnn(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bin.keySet == brute.keySet)
    assert(bin.values.forall(_.size == 5))
    // 1 bit/dim is the lossiest quantizer in the matrix — the bar is
    // "meaningfully above the ~5/500 random baseline", not SQ8 parity
    val recall = brute.map { case (q, b) =>
      (bin(q) & b).size.toDouble / b.size }.sum / brute.size
    assert(recall >= 0.2, s"binary recall $recall below 0.2")
  }

  test("IVF+SQ8 ANN: candidates honor the probes, recall beats chance") {
    import spark.implicits._
    val brute = Similarity.simBruteTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivfsq = Similarity.simIvfSq(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ivfsq.keySet == brute.keySet)
    assert(ivfsq.values.forall(_.size == 5))
    // every neighbor lies in one of its query's probed cells
    val labels = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").as[(Long, Long)].collect().toMap
    val probes = Similarity.probeCells(spark, sf,
        Similarity.defaultQueries(spark, sf))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    ivfsq.foreach { case (q, ns) => ns.foreach { n =>
      assert(probes(q).contains(labels(n)),
        s"query $q returned $n from an unprobed cell") } }
    val recall = brute.map { case (q, b) =>
      (ivfsq(q) & b).size.toDouble / b.size }.sum / brute.size
    assert(recall >= 0.4, s"IVF+SQ8 recall $recall below 0.4")
  }

  test("matryoshka ANN: prefix-dim shortlist recalls most full-dim neighbors") {
    import spark.implicits._
    val brute = Similarity.simBruteTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mrl = Similarity.simMatryoshka(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(mrl.keySet == brute.keySet)
    assert(mrl.values.forall(_.size == 5))
    val recall = brute.map { case (q, b) =>
      (mrl(q) & b).size.toDouble / b.size }.sum / brute.size
    // 16 of 64 UNTRAINED dims (the synthetic embeddings have no MRL
    // prefix ordering) — the bar is "the prefix carries real signal",
    // not production recall
    assert(recall >= 0.4, s"matryoshka recall $recall below 0.4")
  }

  test("cross-source matrix: mass partitions the band index's pair mass") {
    import spark.implicits._
    val m = Dedup.dedupCrossSource(spark, sf)
    // unordered pairs appear once, a <= b
    assert(m.filter($"source_a" > $"source_b").count() == 0)
    assert(m.groupBy($"source_a", $"source_b").count()
      .filter($"count" > 1).count() == 0)
    // the matrix cells partition the total per-bucket pair mass:
    // Σ cells == Σ_buckets n·(n−1)/2 exactly
    val total = m.agg(sum($"candidate_mass")).as[Long].head()
    val expected = Dedup.minhashBands(
        graft.core.Tables.documents(spark, sf))
      .groupBy($"band_idx", $"band_hash").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2"))).as[Long].head()
    assert(total == expected, s"mass $total != bucket arithmetic $expected")
  }

  test("decontam: leaked == pairwise train×test band-collision replay") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .withColumn("h", expr(
        "(graft_md5lower64(cast(doc_id as string)) " +
          "& 9223372036854775807) % 10000"))
      .withColumn("split", when($"h" < 9000, "train")
        .when($"h" < 9500, "val").otherwise("test"))
    val bands = Dedup.minhashBands(docs, keep = Seq("split"))
    // the quadratic formulation the operator must agree with: an
    // actual train-band × test-band join, then distinct train docs
    val leakedPairwise = bands.filter($"split" === "train")
      .join(bands.filter($"split" === "test")
              .select($"band_idx", $"band_hash"),
            Seq("band_idx", "band_hash"))
      .select($"doc_id").distinct().count()
    val out = Dedup.pipelineDecontam(spark, sf)
    assert(out.agg(sum($"n_leaked")).as[Long].head() == leakedPairwise)
    assert(out.agg(sum($"n_train")).as[Long].head() ==
      docs.filter($"split" === "train").count())
    // leak rate in basis points stays within [0, 10000]
    assert(out.filter($"leaked_bp" < 0 || $"leaked_bp" > 10000).count() == 0)
  }

  test("degree histogram: handshake identity and full node coverage") {
    import spark.implicits._
    val h = graft.graph.Graph.graphDegreeHist(spark, sf)
    val pairs = Dedup.dedupEmbed(spark, sf).count()
    val degreeMass = h.agg(sum($"degree" * $"n_nodes")).as[Long].head()
    assert(degreeMass == 2 * pairs,
      s"Σ degree·nodes = $degreeMass, expected 2×$pairs edges")
    assert(h.agg(sum($"n_nodes")).as[Long].head() ==
      graft.core.Tables.embeddings(spark, sf).count())
  }

  test("filtered ANN: predicate respected pre-ranking, recall vs filtered brute force") {
    import spark.implicits._
    val got = graft.similarity.Similarity.simFilteredAnn(spark, sf)
      .as[(Long, Long, Int, Double)].collect()
    assert(got.nonEmpty)
    // every neighbor satisfies the metadata predicate — the filter
    // ran on the candidate stream, not as a lossy post-filter
    assert(got.forall(_._2 % 3 == 0), "a neighbor violates the predicate")
    // filtered BRUTE top-5 (the exact answer under the predicate)
    val vecs = graft.core.Tables.embeddings(spark, sf)
      .withColumn("v", $"embedding".cast("array<double>"))
      .select($"vec_id", $"label", $"v")
      .as[(Long, Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val brute = (for {
      (qid, _, qv) <- vecs if qid < 10
      (nid, _, nv) <- vecs if nid % 3 == 0 && nid != qid
    } yield (qid, nid, cos(qv, nv)))
      .groupBy(_._1).toSeq.flatMap { case (_, c) =>
        c.sortBy(t => (-t._3, t._2)).take(5).map(t => (t._1, t._2)) }.toSet
    val recall = (brute & got.map(t => (t._1, t._2)).toSet).size.toDouble / brute.size
    info(s"filtered ANN recall = $recall")
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("k-anonymity gate: flag iff group smaller than k, groups partition the corpus") {
    import spark.implicits._
    val rows = graft.operators.Analytics.pipelineKanon(spark, sf)
      .as[(String, String, Long, Long, Int, Long)].collect()
    assert(rows.forall { case (_, _, _, n, flag, supp) =>
      (flag == 1) == (n < 10) && supp == (if (n < 10) n else 0L) },
      "suppress flag/mass inconsistent with group size")
    val total = graft.core.Tables.documents(spark, sf).count()
    assert(rows.map(_._4).sum == total, "groups do not partition the corpus")
  }
}
