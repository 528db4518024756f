package graft

import org.apache.spark.sql.functions._
import graft.api.Graft

/** The user-facing library surface (graft.api.Graft) exercised on plain
  * synthetic frames — no fixture tables — proving every family works on
  * arbitrary user data, not just the driver corpus.
  */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over a lazy dog"),     // near dup of 1
    (4L, "completely different text about spark engines here"),
    (5L, "one two three four five six seven eight")
  ).toDF("doc_id", "text")

  test("dedup: exact stats, LSH near-dups, simhash agree on the planted dups") {
    val stats = Graft.dedup.exactDupStats(corpus, "text").collect().head
    assert(stats.getLong(0) == 4)          // 4 distinct texts
    assert(stats.getLong(1) == 1)          // 1 dup group
    assert(stats.getLong(2) == 1)          // 1 redundant doc

    val lsh = Graft.dedup.lshNearDupPairs(corpus, "doc_id", "text", 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((1L, 2L)), "exact dup pair must survive LSH + verify")

    val all = Graft.dedup.allPairsJaccard(corpus, "doc_id", "text", 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == all, "LSH must reach all-pairs recall on this corpus")

    val sh = Graft.dedup.simhashNearDups(
      Graft.dedup.simhashFingerprints(corpus, "doc_id", "text"))
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.contains((1L, 2L)))
  }

  test("edge cases: null, empty, and sub-shingle-length texts flow through") {
    val messy = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, null.asInstanceOf[String]),
      (3L, ""),
      (4L, "two words"),
      (5L, "solo")
    ).toDF("doc_id", "text")

    // Shingling: docs with < n words contribute no rows; nulls drop.
    val sh = Graft.dedup.shingleRows(messy, "doc_id", "text", 3)
    assert(sh.select("doc_id").distinct().as[Long].collect().toSet == Set(1L))

    // LSH pipeline end-to-end survives the messy corpus.
    assert(Graft.dedup.lshNearDupPairs(messy, "doc_id", "text", 0.8).count() == 0)

    // Exact dup stats: "" is its own digest group, null text its own
    // null-key group (groupBy keeps the null key).
    val stats = Graft.dedup.exactDupStats(messy, "text").collect().head
    assert(stats.getLong(0) == 5)

    // Fingerprint: null text → null fingerprint; empty string hashes its
    // single empty token deterministically.
    val fp = Graft.text.fingerprint(messy, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(fp(2L).isEmpty)
    assert(fp(3L).nonEmpty)

    // tfidf: null/empty docs simply contribute no terms.
    val terms = Graft.text.tfidfTopTerms(messy, "doc_id", "text", 2)
    assert(!terms.select("doc_id").as[Long].collect().contains(2L))

    // simhash: null text yields no tokens → doc absent from fingerprints.
    val sh2 = Graft.dedup.simhashFingerprints(messy, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(!sh2.contains(2L))
  }

  test("dedup: keyedDedup keeps the smallest tiebreak deterministically") {
    val df = Seq((1L, "a", 30), (1L, "b", 10), (2L, "c", 5)).toDF("k", "v", "ts")
    val kept = Graft.dedup.keyedDedup(df, Seq("k"), "ts")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == Set((1L, "b"), (2L, "c")))
  }

  test("text: tfidf ranks a distinguishing term first") {
    val top = Graft.text.tfidfTopTerms(corpus, "doc_id", "text", 1)
      .filter(col("doc_id") === 4L).select("term").as[String].collect()
    assert(top.length == 1)
    // every term of doc 4 is unique to it; top-1 must be one of them
    assert("completely different text about spark engines here".split(" ").contains(top.head))
  }

  test("text: pplBuckets cuts the corpus into equal-count quality bands") {
    // 9 scoreable docs: 3 fluent (repeat a common bigram), 3 middling,
    // 3 garbled (each bigram unique) — plus one single-token doc that
    // carries no bigram evidence and must not be ranked.
    val docs = (
      (1 to 3).map(i => (i.toLong, "the cat sat on the mat " * 3)) ++
      (4 to 6).map(i => (i.toLong, s"the cat ate fish number $i today")) ++
      (7 to 9).map(i => (i.toLong, s"zx$i qw$i er$i ty$i ui$i op$i")) ++
      Seq((10L, "lonely"))
    ).toDF("doc_id", "text")
    val bands = Graft.text.pplBuckets(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(bands == List((0L, 3L), (1L, 3L), (2L, 3L)),
      s"3 equal-count bands over the 9 scoreable docs: $bands")
    val best = Graft.text.pplBuckets(docs, "doc_id", "text")
      .orderBy(col("band")).select("best_score").as[Double].collect()
    assert(best(0) > best(1) && best(1) > best(2),
      "band 0 is the head: score ranges strictly ordered")
  }

  test("text: fingerprint separates order-permuted content") {
    val fp = Graft.text.fingerprint(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("similarity: brute-force top-k finds the identical vector first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),      // identical to query
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.7f, 0.7f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Graft.similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head._1 == 1L && math.abs(top.head._2 - 1.0) < 1e-9)
    assert(top(1)._1 == 3L)
    val nd = Graft.similarity.cosineNearDups(emb, "vec_id", "embedding", 0.999)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd == Set((0L, 1L)))
  }

  test("sampling: stratified rates, pair split stability, negative pairs") {
    val df = (1L to 1000L).map(i => (i, if (i % 2 == 0) "A" else "B")).toDF("id", "s")
    val kept = Graft.sampling.stratifiedSample(df, col("s"), col("id"),
      Map("A" -> 100), defaultRate = 0)
    assert(kept.filter(col("s") === "A").count() == 500)
    assert(kept.filter(col("s") === "B").count() == 0)

    val pairs = Seq((1L, 9L), (9L, 1L)).toDF("a", "b")
    val splits = Graft.sampling.pairSplit(pairs, col("a"), col("b"))
      .select("split").as[String].collect().toSet
    assert(splits.size == 1, "an edge and its reverse must share a split")

    val pos = Seq((1L, 1L)).toDF("a", "b")
    val neg = Graft.sampling.negativePairs(
      (1L to 50L).toDF("a"), (1L to 50L).toDF("b"), pos, "a", "b", perLeft = 5)
    assert(neg.count() > 0)
    assert(neg.count() <= 50L * 5, "at most perLeft candidates per left row")
    assert(neg.join(pos, Seq("a", "b")).count() == 0)
  }

  test("sampling: denseIndex is a dense 0..n-1 bijection without a global sort") {
    val keys = (1L to 5000L).map(_ * 7 + 3).toDF("k")   // gapped, non-contiguous
    val idx = Graft.sampling.denseIndex(keys, "k").cache()
    try {
      assert(idx.count() == 5000)
      assert(idx.select(countDistinct(col("__bidx"))).as[Long].head() == 5000)
      val mm = idx.agg(min(col("__bidx")), max(col("__bidx")))
        .as[(Long, Long)].head()
      assert(mm == ((0L, 4999L)), s"index not dense: $mm")
    } finally idx.unpersist()
  }

  test("analytics: co-occurrence per-key fan-in is capped deterministically") {
    // One hot key with 100 items, one small key with 4: the cap bounds
    // the hot key's generated pairs at C(maxPerKey, 2) while keys at or
    // under the cap stay exact.
    val rows = (1L to 100L).map(i => (1L, i)) ++ (101L to 104L).map(i => (2L, i))
    val df = rows.toDF("k", "item")
    val pairs = Graft.analytics.cooccurrencePairs(df, "k", "item", maxPerKey = 10)
    val n = pairs.agg(sum(col("n_cooc"))).as[Long].head()
    assert(n == 45L + 6L, s"expected C(10,2) + C(4,2) pair-occurrences, got $n")
    // Deterministic: the same cap yields the identical pair set.
    val again = Graft.analytics.cooccurrencePairs(df, "k", "item", maxPerKey = 10)
    assert(pairs.collect().toSet == again.collect().toSet)
  }

  test("search: fuzzy top-k and blocked sim-join on user names") {
    val people = Seq(
      (1L, "Renée Fox"), (2L, "renee fox"), (3L, "Renee Foxx"),
      (4L, "Ada Lovelace")).toDF("pid", "pname")
    val top = Graft.search.fuzzyTopK(people, "pid", "pname", "renee fox", 80.0, 3)
      .select("pid").as[Long].collect()
    assert(top.take(2).toSet == Set(1L, 2L), "accent-folded exact matches lead")
    assert(!top.contains(4L))
    val sim = Graft.search.blockedSimJoin(people, "pid", "pname",
        nm => org.apache.spark.sql.functions.substring(nm, 1, 3), maxDist = 1)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.contains((1L, 2L)), "accent fold makes the pair distance 0")
    assert(sim.contains((1L, 3L)) && sim.contains((2L, 3L)))
    assert(!sim.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("search: fuzzyTopK equals the composed WRatio reference, through the native node") {
    import graft.api.Search
    // Names spanning every WRatio dispatch branch against a 10-char
    // query: length ratio < 1.5, [1.5, 8) and >= 8 (one-char names and
    // 80+-char names), empty and all-space names (empty after trim),
    // runs of inner spaces, accents and case folded by normalizeKey.
    val rng = new scala.util.Random(17)
    val alphabet = "abn o  t"
    def randStr(maxLen: Int): String =
      Seq.fill(rng.nextInt(maxLen + 1))(alphabet(rng.nextInt(alphabet.length))).mkString
    val names = Seq.fill(120)(randStr(24)) ++ Seq.fill(6)(randStr(6) * 15) ++
      Seq("", " ", "   ", "a", "n", "Ann Barton", "BARTON ANN", "Ánn  Bärton",
        "ann  barton  ", "annbarton", "ann barton " * 9)
    // An RDD-backed frame: over a LocalRelation the optimizer folds the
    // whole query to constants and no scoring node would be left to see.
    val people = spark.sparkContext
      .parallelize(names.zipWithIndex.map { case (n, i) => (i.toLong, n) }, 2)
      .toDF("pid", "pname")
    val q = "ann barton"
    for ((minScore, k) <- Seq((0.0, 1000), (50.0, 10), (60.0, 40), (95.0, 40))) {
      val got = Graft.search.fuzzyTopK(people, "pid", "pname", q, minScore, k)
      val key = Search.normalizeKey(col("pname"))
      val ref = people
        .select(col("pid"), col("pname"),
          Search.fuzzyScoreWith(key, Search.tokenSort(key), q).as("score"))
        .filter(col("score") >= minScore)
        .orderBy(col("score").desc, col("pid").asc)
        .limit(k)
      assert(got.collect().toSeq == ref.collect().toSeq,
        s"fuzzyTopK($minScore, $k) differs from the composed reference")
      // Scored by the native node: a fall-back to the composed form
      // would bring its transform lambdas back into the plan.
      val plan = got.queryExecution.optimizedPlan
      val exprs = plan.collect { case p => p.expressions }.flatten
      assert(exprs.exists(_.exists(_.isInstanceOf[graft.functions.WRatio])),
        s"no WRatio node in\n$plan")
      assert(!exprs.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.LambdaFunction])),
        s"lambda in the fuzzyTopK plan\n$plan")
    }
  }

  test("search: sizedBlockedSimJoin derives the suffix length from corpus size") {
    // The l ∝ log_σ(n) contract: blocks needed = ceil(n/target), l =
    // base-σ digit count of (blocks-1). Integer-exact — the same values
    // the DuckDB oracle twin derives.
    import graft.api.Search.suffixBlockLen
    assert(suffixBlockLen(10, 15, 10) == 1)   // one block is enough
    assert(suffixBlockLen(1500, 15, 10) == 2) // sf0.01 customers
    assert(suffixBlockLen(15000, 15, 10) == 3)
    assert(suffixBlockLen(150000, 15, 10) == 4)
    assert(suffixBlockLen(1501, 15, 10) == 3)  // 101 blocks -> 3 digits
    assert(suffixBlockLen(64, 4, 2) == 4)      // 16 blocks in base 2
    def corpus(n: Int) = (1 to n)
      .map(i => (i.toLong, f"item#$i%06d")).toDF("pid", "pname")
    // Sized output == fixed-l output at the derived l, at two sizes that
    // derive DIFFERENT l — the granularity actually moved with n.
    for ((n, l) <- Seq((200, 2), (2000, 3))) {
      assert(suffixBlockLen(n, 15, 10) == l)
      val sized = Graft.search.sizedBlockedSimJoin(corpus(n), "pid", "pname",
          targetBlock = 15, sigma = 10, maxDist = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fixed = Graft.search.blockedSimJoin(corpus(n), "pid", "pname",
          nm => org.apache.spark.sql.functions.substring(nm, -l, l), maxDist = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(sized == fixed, s"n=$n l=$l")
      assert(sized.nonEmpty, "one-digit-apart ids share an l-suffix block")
    }
  }

  test("analytics: salted aggregation equals the direct groupBy bitwise") {
    val df = (1L to 10000L).map(i => (i % 7, i, i * 0.01)).toDF("k", "salt", "v")
    val direct = df.groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(28,4)")).cast("double").as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Graft.analytics.saltedAgg(df, col("k"), col("salt"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == direct)
  }

  test("analytics: meanImpute fills nulls with the observed mean") {
    val df = Seq(Some(1.0), Some(3.0), None).toDF("x")
    val out = Graft.analytics.meanImpute(df, "x")
      .select("x_imputed", "was_missing")
      .collect().map(r => (r.getDouble(0), r.getInt(1)))
    assert(out.count(_._2 == 1) == 1)
    assert(out.filter(_._2 == 1).head._1 == 2.0)
  }

  test("events: as-of join takes the latest right value at-or-before") {
    val clicks = Seq((1L, 100L, "a"), (1L, 250L, "b"), (2L, 100L, "c"))
      .toDF("uid", "t_us", "tag")
    val prices = Seq((1L, 100L, 10.0), (1L, 200L, 20.0), (3L, 50L, 99.0))
      .toDF("uid", "t_us", "price")
    val got = Graft.events.asofJoin(clicks, prices, "uid", "t_us", "price")
      .select("tag", "asof_value")
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got("a").contains(10.0), "right row at the SAME ts must be visible")
    assert(got("b").contains(20.0), "latest prior right value wins")
    assert(got("c").isEmpty, "no prior right row -> null")
  }

  test("events: funnel converts only within the window, A-at-same-ts counts") {
    val ev = Seq(
      (1L, 100L, "view"), (1L, 150L, "buy"),     // within 100 -> converted
      (1L, 500L, "buy"),                          // 350 after the view -> not
      (2L, 100L, "buy"),                          // no view at all -> not
      (3L, 100L, "view"), (3L, 100L, "buy")       // same-ts A visible to B
    ).toDF("uid", "t_us", "etype")
    val got = Graft.events.funnel(ev, col("uid"), col("t_us"), col("etype"),
        stepA = "view", stepB = "buy", windowUs = 100L)
      .select("uid", "t_us", "converted")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got((1L, 150L)) == 1 && got((1L, 500L)) == 0)
    assert(got((2L, 100L)) == 0)
    assert(got((3L, 100L)) == 1)
  }

  test("events: scd2Ranges collapses runs into chained validity intervals") {
    val ev = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"),   // run 1: A from 10
      (1L, 30L, 3L, "B"),                        // run 2: B from 30
      (1L, 30L, 4L, "A"),                        // run 3: A from 30 (dup-ts
      (2L, 5L, 5L, "X")                          //   boundary, eid order)
    ).toDF("uid", "t_us", "eid", "st")
    val got = Graft.events.scd2Ranges(ev, col("uid"), col("t_us"),
        col("eid"), col("st"))
      .select("key", "run", "state", "valid_from", "valid_to", "n_events", "is_current")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), Option(r.get(4)), r.getLong(5), r.getInt(6))))
      .toMap
    assert(got((1L, 1L)) == (("A", 10L, Some(30L), 2L, 0)),
      "consecutive As collapse; valid_to = next run's start")
    assert(got((1L, 2L)) == (("B", 30L, Some(30L), 1L, 0)),
      "dup-ts boundary: B's interval closes at the same timestamp")
    assert(got((1L, 3L)) == (("A", 30L, None, 1L, 1)), "last run is current")
    assert(got((2L, 1L)) == (("X", 5L, None, 1L, 1)))
  }

  test("dedup: near-dup pairs cluster to their minimum doc id") {
    // The keep-one composition: verified LSH pairs -> symmetric edges ->
    // fixed-round min-label components. Docs 1 and 2 are exact dups, so
    // they must land in one cluster whose canonical id is 1; every
    // cluster label must equal the min of its members by construction.
    val pairs = Graft.dedup.lshNearDupPairs(corpus, "doc_id", "text", 0.8)
      .select(col("i"), col("j"))
    val edges = pairs.select($"i".as("src"), $"j".as("dst"))
      .union(pairs.select($"j".as("src"), $"i".as("dst")))
    val comp = graft.graph.DFGraphAlgs.connectedComponents(edges, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L, s"1 and 2 must cluster under 1: $comp")
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(label == members.keys.min,
        s"cluster $label must be labeled by its min member: $members")
    }
  }

  test("events: gap sessionization splits exactly at gap violations") {
    val gap = 100L
    val ev = Seq((1L, 0L), (1L, 50L), (1L, 151L), (1L, 200L), (2L, 0L))
      .toDF("user_id", "ts_us")
    val sess = Graft.events.sessionize(ev, col("user_id"), col("ts_us"), gap)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // user 1: [0,50] then [151,200] (gap 101 > 100); user 2: singleton
    assert(sess == Set((1L, 2L, 50L), (1L, 2L, 49L), (2L, 1L, 0L)))
  }

  test("text: repetitionMetrics computes Gopher fractions on a known doc") {
    val docs = Seq((1L, "a a a b"), (2L, "x y z w")).toDF("id", "body")
    val got = Graft.text.repetitionMetrics(docs, "id", "body")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // doc 1 bigrams: "a a","a a","a b" -> dup 1/3, top 2/3;
    // trigrams: "a a a","a a b" -> dup 0, top 1/2.
    assert(got(1L) == (0.333333, 0.666667, 0.0, 0.5), s"${got(1L)}")
    // doc 2: nothing repeats.
    assert(got(2L) == (0.0, 0.333333, 0.0, 0.5))
  }

  test("text: packSequences bins documents by global token prefix sums") {
    val docs = Seq(
      (1L, "t t t"), (2L, "t t"), (3L, "t t t t"), (4L, "t"), (5L, "t t"))
      .toDF("id", "body")
    val bins = Graft.text.packSequences(docs, "id", "body", seqLen = 4L, buckets = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // starts: 0,3,5,9,10 -> bins 0,0,1,2,2
    assert(bins == Set((0L, 2L, 5L), (1L, 1L, 4L), (2L, 2L, 3L)), s"$bins")
  }

  test("text: piiRedact counts and masks emails/phones/IPv4, zero-match safe") {
    val docs = Seq(
      (1L, "mail bob@x.com tel 12-345-678-9012 ip 10.0.0.1 end"),
      (2L, "no pii in this one"),
      (3L, "two mails a@b.io c@d.net")).toDF("id", "body")
    val got = Graft.text.piiRedact(docs, "id", "body")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(got(1L) == (1, 1, 1, "mail <EMAIL> tel <PHONE> ip <IP> end"), s"${got(1L)}")
    assert(got(2L) == (0, 0, 0, "no pii in this one"))
    assert(got(3L) == (2, 0, 0, "two mails <EMAIL> <EMAIL>"))
  }

  test("text: urlDomainStats extracts domains and drops blocklisted ones") {
    val docs = Seq(
      (1L, "see http://a.com/x and https://b.org/y?q=1"),
      (2L, "also http://a.com/z plain text"),
      (3L, "nothing linked")).toDF("id", "body")
    val got = Graft.text.urlDomainStats(docs, "id", "body", Seq("b.org"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a.com", 2L, 2L)), s"$got")
  }

  test("text: tokenEntropy is 0 for one-token docs and ln(2) for a fair pair") {
    val docs = Seq((1L, "a a a a"), (2L, "a b"), (3L, "x y z w"))
      .toDF("id", "body")
    val got = Graft.text.tokenEntropy(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == (4L, 0.0), s"${got(1L)}")
    assert(got(2L) == (2L, 0.693147), s"${got(2L)}")   // ln 2
    assert(got(3L) == (4L, 1.386294), s"${got(3L)}")   // ln 4
  }

  test("text: filterFunnel attributes each doc to its first failing gate") {
    val docs = Seq(
      (1L, "x y z w v u"),                  // no stopword -> drop_lang
      (2L, "the"),                          // 1 token -> drop_length
      (3L, "the x the x the x the x"),      // dup bigrams 5/7 -> drop_repetition
      (4L, "the a b c d e f g"),            // all gates pass -> keep
      (5L, "the a the a a a the a")         // H=0.66, dup 4/7 <= 0.6 -> drop_entropy
    ).toDF("id", "body")
    val got = Graft.text.filterFunnel(docs, "id", "body",
        stopwords = Seq("the"), minStopRatio = 0.02, minTokens = 2L,
        maxTokens = 100L, maxDupBigramFrac = 0.6, minEntropy = 1.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "drop_lang", 2L -> "drop_length",
      3L -> "drop_repetition", 4L -> "keep", 5L -> "drop_entropy"), s"$got")
  }

  test("text: mixtureSample keeps the binding domain whole and samples the rest") {
    // Domain A: 10 docs x 10 tokens (T=100, w=.5 -> ratio .005, binding).
    // Domain B: 10 docs x 30 tokens (T=300, w=.5 -> ratio .00167, rate 33).
    // Domain C is unlisted -> dropped.
    val docs = ((0L to 9L).map(i => (i, "A", Seq.fill(10)("t").mkString(" "))) ++
      (10L to 19L).map(i => (i, "B", Seq.fill(30)("t").mkString(" "))) ++
      Seq((20L, "C", "x y z"))).toDF("id", "dom", "body")
    val got = Graft.text.mixtureSample(docs, "id", "body", "dom",
        Map("A" -> 0.5, "B" -> 0.5))
      .groupBy("domain", "rate").count()
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("A") == (100L, 10L), s"$got")     // binding domain: rate 100
    assert(got("B")._1 == 33L, s"$got")          // floor(100/3)
    assert(!got.contains("C"), s"$got")
    // The hash gate is the documented mixBucket arithmetic.
    val kept = Graft.text.mixtureSample(docs, "id", "body", "dom",
        Map("A" -> 0.5, "B" -> 0.5))
      .filter(col("domain") === "B" && col("keep") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = (10L to 19L).filter(i => i * 2654435761L % 1000003L % 100L < 33L).toSet
    assert(kept == expect, s"$kept vs $expect")
  }

  test("text: canonicalUrl collapses scheme/case/www/slash/query/fragment variants") {
    val urls = Seq(
      "https://www.Example.COM/p/7",
      "HTTP://EXAMPLE.com/p/7/",
      "http://example.com/p/7?utm=1&x=2",
      "https://example.com/p/7#frag",
      "https://example.com/p/8",          // different page
      "https://example.com",              // bare host
      "https://www.example.com/"          // bare host, www + slash
    ).zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("id", "url")
    val got = urls.select(col("id"), Graft.text.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Set(got(0L), got(1L), got(2L), got(3L)) == Set("example.com/p/7"), s"$got")
    assert(got(4L) == "example.com/p/8")
    assert(got(5L) == "example.com" && got(6L) == "example.com")
  }

  test("text: dsirWeights ranks probe-like docs above unrelated ones") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta alpha beta"),   // shares probe bigrams
      (2L, "zz yy xx ww vv uu tt ss"),             // disjoint from probe
      (3L, "alpha beta zz yy")                     // partial overlap
    ).toDF("id", "body")
    val probe = Seq(Tuple1("alpha beta gamma alpha beta gamma")).toDF("body")
    val got = Graft.text.dsirWeights(corpus, "id", "body", probe, "body",
        buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 3, s"$got")
    assert(got(1L) > got(3L) && got(3L) > got(2L), s"$got")
  }

  test("text: dupSpanStats counts shingles shared across documents") {
    val docs = Seq(
      (1L, "a b c d e"),     // shingles: "a b c","b c d","c d e"
      (2L, "x b c d y"),     // shares "b c d" with doc 1
      (3L, "p q"),           // < 3 tokens: no shingles, no row
      (4L, "a b c a b c")    // within-doc repeat of "a b c" is NOT cross-doc
    ).toDF("id", "body")
    val got = Graft.text.dupSpanStats(docs, "id", "body", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 4's "a b c" occurs in doc 1 too, so its two occurrences are
    // cross-doc dups; "b c a"/"c a b" are unique to doc 4.
    assert(got == Map(1L -> (3L, 2L), 2L -> (3L, 1L), 4L -> (4L, 2L)), s"$got")
  }

  test("text: vocabCoverage finds the minimal vocab per coverage target") {
    // freqs: e=12, a=5, b=3, c=1, d=1 (total 22) — e's 2-digit count
    // exercises the cross-bucket ordering of the two-phase rank.
    val docs = Seq(
      (1L, (Seq.fill(12)("e") ++ Seq.fill(5)("a")).mkString(" ")),
      (2L, (Seq.fill(3)("b") ++ Seq("c", "d")).mkString(" "))
    ).toDF("id", "body")
    val got = Graft.text.vocabCoverage(docs, "id", "body")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2))).toList
      .sortBy(_._1)
    assert(got == List(
      (0.5, 1L, 0.545455), (0.75, 2L, 0.772727), (0.9, 3L, 0.909091),
      (0.95, 4L, 0.954545), (0.99, 5L, 1.0)), s"$got")
  }

  test("text: contaminationFromShingles flags overlap against a probe set") {
    val corpus = Seq((10L, "a b c"), (10L, "b c d"), (11L, "x y z"))
      .toDF("doc_id", "sh")
    val probe = Seq((1L, "b c d"), (1L, "q q q")).toDF("doc_id", "sh")
    val got = Graft.text.contaminationFromShingles(corpus, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((10L, 1L, 2L, 0.5)), s"${got.toSeq}")
  }

  test("text: chunkSliding emits overlapped windows that cover every token") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),   // 10 tokens
      (2L, "only three tokens"),                        // shorter than one window
      (3L, (1 to 9).map(i => s"u$i").mkString(" "))     // last chunk is 1 token
    ).toDF("id", "body")
    val got = Graft.text.chunkSliding(docs, "id", "body",
        chunkTokens = 5, stride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList.sorted
    // starts are 0, 4, 8, … < ntok; len = min(5, ntok - start): the
    // windows tile [0, ntok) with a 1-token overlap at every seam.
    assert(got == List(
      (1L, 0L, 0L, 5L), (1L, 1L, 4L, 5L), (1L, 2L, 8L, 2L),
      (2L, 0L, 0L, 3L),
      (3L, 0L, 0L, 5L), (3L, 1L, 4L, 5L), (3L, 2L, 8L, 1L)), s"$got")
  }

  test("text: paraDedup keeps first occurrence of each segment across docs") {
    val seg = (1 to 4).map(i => s"p$i").mkString(" ")   // one 4-token segment
    val docs = Seq(
      (1L, seg + " " + (1 to 4).map(i => s"a$i").mkString(" ")), // 2 segs, all first
      (2L, seg + " " + (1 to 4).map(i => s"b$i").mkString(" ")), // seg dup of doc 1
      (3L, seg + " " + seg)                                      // dup + self-dup
    ).toDF("id", "body")
    val got = Graft.text.paraDedup(docs, "id", "body", paraTokens = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> (2L, 2L),   // both segments are first occurrences
      2L -> (2L, 1L),   // the shared segment defers to doc 1
      3L -> (2L, 0L)),  // both copies defer to doc 1's
      s"$got")
  }

  test("text: globalShuffle manifest partitions the corpus, heads follow hash order") {
    val docs = (0L until 40L).map(i => (i, s"d$i")).toDF("id", "body")
    val got = Graft.text.globalShuffle(docs, "id", shards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val h = (i: Long) => (i * 2654435761L) % 4294967296L
    val by = (0L until 40L).groupBy(i => h(i) % 4)
    assert(got.map(_._2).sum == 40, "every doc lands in exactly one shard")
    got.foreach { case (shard, n, minH, maxH, head1) =>
      val mem = by(shard).sortBy(i => (h(i), i))
      assert(n == mem.size && minH == mem.map(h).min && maxH == mem.map(h).max)
      assert(head1 == mem.head, s"shard $shard head mismatch")
    }
  }

  test("similarity: semanticDropList keeps min id, drops in-cell near-dups only") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),   // cell A
      (2L, Array(1.0f, 0.0f)),   // cell A: identical to 1 -> dropped
      (3L, Array(0.99f, 0.1f)),  // cell A: near 1 -> dropped
      (4L, Array(1.0f, 0.0f)))   // cell B: identical to 1 but OTHER cell -> kept
      .toDF("vid", "emb")
    val cells = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L))
      .toDF("vec_id", "cid")
    val drops = Graft.similarity.semanticDropList(emb, "vid", "emb", cells,
        threshold = 0.9, pairParts = 4)
      .collect().map(r => r.getLong(0)).toSet
    assert(drops == Set(2L, 3L), s"$drops")
  }

  test("similarity: sizedCells keeps per-cell pair work ~flat as the corpus grows") {
    // The k ∝ n contract: at a fixed targetCellSize, 4x the corpus must
    // get ~4x the cells — NOT 4x the cell size — so the within-cell pair
    // sweep (Σ cell²) stays linear in n. Measured as pairs-per-vector.
    val r = new scala.util.Random(7)
    def corpus(n: Int) = (1 to n).map { i =>
      (i.toLong, Array.fill(8)(r.nextFloat() * 2 - 1))
    }.toDF("vid", "emb")
    def pairsPerVector(n: Int): Double = {
      val cells = Graft.similarity.sizedCells(corpus(n), "vid", "emb",
        targetCellSize = 50)
      val sizes = cells.groupBy(col("cid")).count()
        .collect().map(_.getLong(1))
      assert(sizes.sum == n.toLong, "every vector lands in exactly one cell")
      assert(sizes.length >= n / 50 / 2,
        s"n=$n: expected ~${n / 50} cells, got ${sizes.length}")
      sizes.map(c => c * (c - 1) / 2.0).sum / n
    }
    val small = pairsPerVector(400)
    val large = pairsPerVector(1600)
    // Fixed k would make this ratio ~4; the knob keeps it ~1 (cell-size
    // skew under random seeds allows some slack, never the 4x signature).
    assert(large / small < 2.5,
      s"pairs/vector grew ${large / small}x for 4x data ($small -> $large)")
  }

  test("similarity: semanticDropListSized agrees with the fixed-cells form on its own cells") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.01f, 1.0f)))
      .toDF("vid", "emb")
    val sized = Graft.similarity.semanticDropListSized(emb, "vid", "emb",
        targetCellSize = 2, threshold = 0.9, pairParts = 4)
      .collect().map(r => r.getLong(0)).toSet
    val cells = Graft.similarity.sizedCells(emb, "vid", "emb", targetCellSize = 2)
    val fixed = Graft.similarity.semanticDropList(emb, "vid", "emb", cells,
        threshold = 0.9, pairParts = 4)
      .collect().map(r => r.getLong(0)).toSet
    assert(sized == fixed)
    // Whatever the fitted cells, the keep-min-id rule holds: 1 and 3 are
    // their duplicate-pair minima, so only 2 and/or 4 can ever drop.
    assert(sized.subsetOf(Set(2L, 4L)), s"$sized")
  }

  test("sampling: weightedSample prefers heavy keys and is replayable") {
    val rows = (1L to 200L).map(k => (k, if (k <= 10) 1000.0 else 1.0))
      .toDF("k", "w")
    val take = Graft.sampling.weightedSample(rows, col("k"), col("w"), 10)
      .collect().map(_.getLong(0)).toSet
    // The 10 heavy keys carry 1000x the weight of the 190 light ones —
    // the sample must be dominated by them (A-Res inclusion follows
    // weights); determinism: a second run picks the identical set.
    assert(take.count(_ <= 10L) >= 8, s"heavy keys under-sampled: $take")
    val again = Graft.sampling.weightedSample(rows, col("k"), col("w"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(take == again, "hash-based sample must replay identically")
  }

  test("analytics: correlationMatrix recovers perfect and inverse correlation") {
    val rows = (1 to 100).map(i => (i.toDouble, 2.0 * i + 3, -1.0 * i))
      .toDF("a", "b", "c")
    val m = Graft.analytics.correlationMatrix(rows, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("a", "b")) == 1.0, s"perfect linear must give r=1: $m")
    assert(m(("a", "c")) == -1.0, s"perfect inverse must give r=-1: $m")
    assert(m.size == 3)
  }

  test("analytics: psi is ~0 on identical periods, large on shifted ones") {
    val same = (1 to 1000).map(i => (i % 100 * 1.0, i % 2 == 0))
      .toDF("v", "pre")
    val psiSame = Graft.analytics.psi(same, col("v"), col("pre"), 10, 10.0)
      .agg(sum(col("psi_term"))).head().getDouble(0)
    assert(math.abs(psiSame) < 0.01, s"identical periods must give PSI~0: $psiSame")
    val shifted = (1 to 1000).map { i =>
      val pre = i % 2 == 0
      (if (pre) i % 50 * 1.0 else 50.0 + i % 50, pre)
    }.toDF("v", "pre")
    val psiShift = Graft.analytics.psi(shifted, col("v"), col("pre"), 10, 10.0)
      .agg(sum(col("psi_term"))).head().getDouble(0)
    assert(psiShift > 0.2, s"disjoint periods must trip the 0.2 gate: $psiShift")
  }

  test("analytics: globalRank is the exact global (value, key) rank 1..n") {
    // Ties on v resolve by key; the two-phase bucketed rank must equal a
    // plain global row_number over (v, key).
    val rows = Seq((10L, 5.0), (11L, 3.0), (12L, 5.0), (13L, 1.0),
      (14L, 3.0), (15L, 9.0), (16L, 0.5))
    val df = rows.toDF("k", "v")
    val got = Graft.analytics.globalRank(df, col("k"), col("v"), buckets = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = rows.sortBy { case (k, v) => (v, k) }
      .zipWithIndex.map { case ((k, _), i) => k -> (i + 1).toLong }.toMap
    assert(got == want)
    assert(got.values.toSeq.sorted == (1L to rows.size).toSeq,
      "ranks must be a bijection onto 1..n")
  }

  test("events: funnelChain with two steps equals the single-window funnel") {
    val e = graft.tables.Tables.events(spark, sf())
    val withUs = e.withColumn("ts_us", graft.ops.OpsUtil.tsMicros(e))
    val two = graft.api.Events.funnelChain(withUs, col("user_id"),
        col("ts_us"), col("event_type"), Seq("view", "purchase"),
        30L * 60 * 1000000)
      .groupBy(col("key")).agg(sum(col("converted")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val one = graft.api.Events.funnel(withUs, col("user_id"), col("ts_us"),
        col("event_type"), "view", "purchase", 30L * 60 * 1000000)
      .groupBy(col("user_id")).agg(sum(col("converted")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == one, "the chain fold must degenerate to the 2-step funnel")
    assert(two.values.sum > 0, "fixture must actually convert somewhere")
  }

  test("events: funnelChain rejects repeated adjacent steps") {
    // ADVICE r7: with steps(k) == steps(k-1) a row's own qualifier is
    // visible to its stage-k frame (rowsBetween includes currentRow) and
    // every such row would self-qualify at a 0-µs gap. The ambiguous
    // spec must fail fast, not silently over-convert.
    val e = graft.tables.Tables.events(spark, sf())
    val withUs = e.withColumn("ts_us", graft.ops.OpsUtil.tsMicros(e))
    val ex = intercept[IllegalArgumentException] {
      graft.api.Events.funnelChain(withUs, col("user_id"), col("ts_us"),
        col("event_type"), Seq("view", "view", "purchase"), 60L * 1000000)
    }
    assert(ex.getMessage.contains("adjacent funnel steps must differ"))
  }

  test("analytics: HLL sketch obeys the merge law and lands near the truth") {
    import graft.ops.TextHash
    val n = 5000
    val ids = (0 until n).map(i => (i.toLong, i % 2 == 0)).toDF("id", "even")
      .select(col("even"), TextHash.h28(col("id").cast("string")).as("h"))
    // Sketch of the union built from scratch…
    val full = ids.agg(call_function("hll_sketch", col("h"), lit(8)).as("rf"))
    // …must equal the elementwise max of independently-built halves.
    val parts = ids.groupBy(col("even"))
      .agg(call_function("hll_sketch", col("h"), lit(8)).as("regs"))
      .agg(first(when(col("even"), col("regs")), ignoreNulls = true).as("ra"),
        first(when(!col("even"), col("regs")), ignoreNulls = true).as("rb"))
    val row = parts.crossJoin(full).select(
      (zip_with(col("ra"), col("rb"), (x, y) => greatest(x, y)) === col("rf"))
        .as("lossless"),
      graft.api.Analytics.hllEstimate(col("rf")).as("est"),
      size(col("rf")).as("m")).collect().head
    assert(row.getBoolean(0), "merge(a, b) must equal sketch(a ∪ b) exactly")
    assert(row.getInt(2) == 256)
    val est = row.getDouble(1)
    // p=8 → σ ≈ 6.5%; 3σ bound with a fixed hash is a deterministic check.
    assert(math.abs(est - n) / n < 0.2, s"estimate $est too far from $n")
  }

  test("layout: zValue interleaves bits exactly; rangeBucket stays in range") {
    import graft.api.Layout
    // JVM reference interleave vs the Column form on a deterministic grid.
    def zRef(b1: Long, b2: Long): Long =
      (0 until 8).map(i => (((b1 >> i) & 1L) << (2 * i + 1)) | (((b2 >> i) & 1L) << (2 * i))).sum
    val grid = for { a <- 0 until 16; b <- 0 until 16 }
      yield (a.toLong * 17 % 256, b.toLong * 23 % 256)
    val got = grid.toDF("b1", "b2")
      .select(col("b1"), col("b2"), Layout.zValue(col("b1"), col("b2")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    grid.foreach { case (a, b) =>
      assert(got((a, b)) == zRef(a, b), s"zValue($a, $b)") }
    // Buckets cover 0..255 and respect the integer-division formula.
    val vals = (0 until 1000).map(_.toLong * 7919 % 100003).toDF("v")
    val st = vals.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val bks = vals.crossJoin(st)
      .select(col("v"), col("mn"), col("mx"),
        Layout.rangeBucket(col("v"), col("mn"), col("mx"), 256).as("b"))
      .collect()
    bks.foreach { r =>
      val (v, mn, mx, b) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(b == (v - mn) * 256 / (mx - mn + 1), s"bucket of $v")
      assert(b >= 0 && b < 256)
    }
  }

  test("layout: a z-clustered write prunes second-dim predicates a sort cannot") {
    import graft.api.Layout
    // The physical rewrite the zone-map audit stands for: repartition by
    // range on the Morton value, write, read back per-FILE zone maps.
    // A b2-only predicate must skip files under the z-order layout and
    // hit every file under a b1-sorted layout of the same budget.
    val o = spark.read.parquet(s"${sf()}/orders.parquet")
      .select(col("o_custkey").as("ck"),
        round(col("o_totalprice") * 100, 0).cast("long").as("pc"))
    val st = o.agg(min(col("ck")).as("mn1"), max(col("ck")).as("mx1"),
      min(col("pc")).as("mn2"), max(col("pc")).as("mx2"))
    val b = o.crossJoin(broadcast(st)).select(
      Layout.rangeBucket(col("ck"), col("mn1"), col("mx1"), 256).as("b1"),
      Layout.rangeBucket(col("pc"), col("mn2"), col("mx2"), 256).as("b2"))
      .select(col("b1"), col("b2"), Layout.zValue(col("b1"), col("b2")).as("z"))
    val root = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    def fileHits(df: org.apache.spark.sql.DataFrame, sortKey: String): (Long, Long) = {
      val out = s"$root/$sortKey"
      df.repartitionByRange(8, col(sortKey)).sortWithinPartitions(col(sortKey))
        .write.mode("overwrite").parquet(out)
      val zones = spark.read.parquet(out)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("b2")).as("mn"), max(col("b2")).as("mx"))
      (zones.count(), zones.filter(col("mn") <= 63).count())
    }
    val (zTotal, zHit) = fileHits(b, "z")
    val (sTotal, sHit) = fileHits(b, "b1")
    assert(zTotal == 8 && sTotal == 8)
    assert(sHit == sTotal, "every b1-sorted file spans the full b2 range")
    assert(zHit < zTotal,
      s"z-order files must let a b2-only predicate skip files ($zHit/$zTotal hit)")
  }

  test("graph: pageRank and shortestPaths run on a user edge list") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L), (1L, 3L))
      .toDF("src", "dst")
    val pr = Graft.graph.pageRank(edges, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.size == 3)
    assert(math.abs(pr.values.sum - 3.0) < 1e-6, "symmetric triangle: ranks sum to N")
    val dists = Graft.graph.shortestPaths(
      edges.withColumn("w", lit(1.0)), source = 1L, iters = 3)
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.toString.toDouble)).toMap
    assert(dists(1L).contains(0.0) && dists(2L).contains(1.0) && dists(3L).contains(1.0))
  }
}
