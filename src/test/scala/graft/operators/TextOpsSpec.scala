package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: n-grams in order; short docs yield empty, not descending seq") {
    val df = Seq("a b c d", "a b", "x").toDF("text")
    val sh = df.select(TextOps.shingles(TextOps.tokens(col("text")), 3).as("s"))
      .as[Seq[String]].collect()
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1).isEmpty)
    assert(sh(2).isEmpty)
  }

  test("TextClean: NFC composes, Cc/Cf fold to one space, edges trim") {
    val dirty = Seq(
      "a\tb",                       // control char -> separator
      "  lead  and   trail   ",     // space runs collapse, edges trim
      "cafe\u0301",                 // NFC composes e + U+0301
      "zero\u200bwidth",            // Cf chars fold into the separator
      "\u0007\u0007",               // control-only -> empty
      "keep\u00a0nbsp"              // U+00A0 is Zs, NOT collapsed
    ).toDF("text")
    val out = dirty.select(org.apache.spark.sql.graft.TextClean.of(col("text")))
      .as[String].collect().toSeq
    assert(out == Seq(
      "a b", "lead and trail", "caf\u00e9", "zero width", "",
      "keep\u00a0nbsp"))
  }

  test("TextClean: registered on the SQL surface via extensions") {
    spark.sql("SELECT text_clean(' x\ty ') AS c").as[String].collect()
      .toSeq match { case Seq(c) => assert(c == "x y") }
  }

  test("native WordShingles matches the HOF shingles exactly, incl. edges") {
    val docs = spark.read.parquet(sf("documents")).select("text")
      .union(Seq("a b", "x", "", "one two three four").toDF("text"))
    val cmp = docs.select(
      TextOps.shingles(TextOps.tokens(col("text")), 3).as("hof"),
      org.apache.spark.sql.graft.WordShingles.of(col("text"), 3).as("native"))
    val rows = cmp.as[(Seq[String], Seq[String])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (h, nat) => assert(h == nat) }
  }

  test("langId picks the profile with the most stopword hits, und on none") {
    val df = Seq(
      "the cat sat of the mat and a dog",
      "el perro de la casa y que bien",
      "zzz qqq www").toDF("text")
    val out = df.select(TextOps.langId(TextOps.tokens(col("text")))).as[String].collect()
    assert(out.toSeq == Seq("en", "es", "und"))
  }

  test("rollingHash stays in [0, 1e9+7) and matches the reference fold") {
    def ref(s: String): Long =
      s.map(_.toLong).foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000000007L)
    val inputs = Seq("", "a", "abc", "hello world hello world")
    val df = inputs.toDF("text")
    val got = df.select(TextOps.rollingHash(col("text"))).as[Long].collect()
    inputs.zip(got).foreach { case (s, h) =>
      assert(h == ref(s), s"mismatch for '$s'")
      assert(h >= 0 && h < 1000000007L)
    }
  }

  test("regexTokens splits words, numbers and punctuation without empties") {
    val df = Seq("hello, world! x2").toDF("text")
    val toks = df.select(TextOps.regexTokens(col("text"))).as[Seq[String]].head()
    assert(toks.nonEmpty && toks.forall(_.nonEmpty))
    assert(toks.contains("hello"))
  }

  test("repetitionStats: dup-word and top-bigram fractions match by hand") {
    val df = Seq(
      (1L, "a a a a"),       // 4 words, 1 distinct; bigrams: "a a" x3
      (2L, "a b c d"))       // all distinct; bigrams each once
      .toDF("doc_id", "text")
    val out = TextOps.repetitionStats(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 4L, 1L, 0.75, 3L, 1.0),
      (2L, 4L, 4L, 0.0, 1L, 1.0 / 3.0)))
  }

  test("redact replaces every match and counts hits per pattern set") {
    val pats = Seq("\\bfoo\\b" -> "<X>", "[0-9]+" -> "<N>")
    val df = Seq("foo 12 foo food 9").toDF("text")
    val out = df.select(
      TextOps.redact(col("text"), pats).as("r"),
      TextOps.redactHits(col("text"), pats.map(_._1)).as("n"))
      .as[(String, Int)].head()
    assert(out == ("<X> <N> <X> food <N>", 4))
  }

  test("piiPatterns scrub emails, phones and IPs") {
    val df = Seq("mail a.b@example.com call +1 (202) 555-0143 ip 10.0.0.1 end")
      .toDF("text")
    val r = df.select(TextOps.redact(col("text"), TextOps.piiPatterns).as("r"))
      .as[String].head()
    assert(r == "mail <EMAIL> call <PHONE> ip <IP> end")
  }

  test("winnowing: fingerprints are window minima; copies share all, " +
    "a shared run shares at least one") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = s"unrelated words here then $a and a different tail entirely"
    val df = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(df, "doc_id", "text", k = 3, w = 4)
      .as[(Long, String)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    // identical docs -> identical fingerprint sets
    assert(fps(1L) == fps(2L))
    // winnowing guarantee: a shared run of >= w+k-1 words shares >= 1 fp
    assert(fps(3L).intersect(fps(1L)).nonEmpty)
    // every fingerprint is one of the doc's own 3-gram hashes
    val hashes = df.filter($"doc_id" === 1L)
      .select(explode(TextOps.shingles(TextOps.tokens($"text"), 3)).as("s"))
      .select(md5($"s")).as[String].collect().toSet
    assert(fps(1L).subsetOf(hashes))
  }

  test("corpusFreqQuality: counts match a brute-force recount") {
    val df = Seq(
      (1L, "a b c"),       // a,b common; c only here and doc 3
      (2L, "a b b"),       // distinct: a,b
      (3L, "c zz"),        // zz is unique
      (4L, "a")).toDF("doc_id", "text")
    // df: a=3, b=2, c=2, zz=1
    val out = TextOps.corpusFreqQuality(df, "doc_id", "text", minDf = 2L)
      .select("doc_id", "n_tok", "n_rare", "mean_df")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, 0L, (3 + 2 + 2) / 3.0)))
    assert(out(2L) == ((2L, 0L, (3 + 2) / 2.0)))
    assert(out(3L) == ((2L, 1L, (2 + 1) / 2.0)))
    assert(out(4L) == ((1L, 0L, 3.0)))
  }

  test("linearQualityScore: exact at the weights, monotone in stop ratio") {
    val df = Seq("the the the the", "zz qq ww rr").toDF("text")
    val scores = df.select(TextOps.linearQualityScore(col("text"),
        bias = 0.0, wTtr = 0.0, wStop = 1.0, wAvgLen = 0.0,
        stopwords = Seq("the")).as("s"))
      .as[Double].collect()
    assert(scores(0) == 1.0 && scores(1) == 0.0)
    // pure projection — no shuffle
    val plan = df.select(TextOps.linearQualityScore(col("text"), 0, 1, 1, 1,
      Seq("the"))).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("chunkTokens: boundaries, overlap, and full token coverage") {
    // 10 tokens, width 4, stride 3: chunks at 1-4, 4-7, 7-10 (3 chunks)
    val doc = (1 to 10).map(i => s"t$i").mkString(" ")
    val out = TextOps.chunkTokens(Seq((1L, doc)).toDF("id", "text"),
        "id", "text", width = 4, stride = 3)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk", "n_tok")
      .as[(Long, String, Long)].collect()
    assert(out.map(_._2).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(out.map(_._3).toSeq == Seq(4L, 4L, 4L))
    // short doc (<= width): exactly one whole chunk
    val short = TextOps.chunkTokens(Seq((1L, "a b")).toDF("id", "text"),
        "id", "text", width = 4, stride = 3)
      .select("chunk", "n_tok").as[(String, Long)].collect()
    assert(short.toSeq == Seq(("a b", 2L)))
    // ragged tail: 11 tokens => last chunk is the 2-token remainder
    val ragged = TextOps.chunkTokens(
        Seq((1L, (1 to 11).map(i => s"t$i").mkString(" "))).toDF("id", "text"),
        "id", "text", width = 4, stride = 3)
      .orderBy("chunk_id").select("n_tok").as[Long].collect()
    assert(ragged.toSeq == Seq(4L, 4L, 4L, 2L))
    // coverage: every token of every fixture doc appears in some chunk
    val docs = spark.read.parquet(sf("documents")).select("doc_id", "text")
    val total = docs.select(explode(TextOps.tokens(col("text")))).count()
    val covered = TextOps.chunkTokens(docs, "doc_id", "text", 16, 16)
      .agg(sum("n_tok")).as[Long].head()
    assert(covered == total, "non-overlapping chunks partition the tokens")
  }

  test("chunkTokens rejects stride > width (would drop tokens)") {
    intercept[IllegalArgumentException] {
      TextOps.chunkTokens(Seq((1L, "a")).toDF("id", "text"),
        "id", "text", width = 3, stride = 4)
    }
  }

  test("bigramLmScore: probabilities match hand-computed corpus counts") {
    // corpus bigrams: "a b" x2, "a c" x1, "b a" x1, "c a" x1
    // p(b|a)=2/3, p(c|a)=1/3, p(a|b)=1, p(a|c)=1
    val docs = Seq((1L, "a b a c a"), (2L, "a b")).toDF("id", "text")
    val out = TextOps.bigramLmScore(docs, "id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect()
    // doc 1: bigrams (a b),(b a),(a c),(c a) -> mean of 2/3, 1, 1/3, 1
    val grid = (p: Double) => math.floor(p * 1e12)
    val exp1 = (grid(2.0 / 3) + grid(1.0) + grid(1.0 / 3) + grid(1.0)) / 1e12 / 4
    val exp2 = grid(2.0 / 3) / 1e12 / 1
    assert(out.toSeq == Seq((1L, 4L, exp1), (2L, 1L, exp2)))
    // single-token doc: no bigrams, dropped
    val one = TextOps.bigramLmScore(
      Seq((1L, "solo")).toDF("id", "text"), "id", "text").count()
    assert(one == 0)
  }

  test("property: vocabCount never exceeds token count (scalacheck gen)") {
    val gen = Gen.nonEmptyListOf(Gen.choose(0, 9).map(i => s"w$i"))
    val texts = (0 until 30).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).map(_.mkString(" ")))
    assert(texts.size > 20)
    val df = texts.toDF("text")
    val toks = TextOps.tokens(col("text"))
    val rows = df.select(size(toks), TextOps.vocabCount(toks, Seq("w1", "w2")))
      .as[(Int, Int)].collect()
    assert(rows.forall { case (n, v) => v >= 0 && v <= n })
  }

  test("hashFeatures: identical tokens share a bucket, counts add up") {
    val df = Seq((1L, "a b a b a"), (2L, "a")).toDF("doc_id", "text")
    val out = TextOps.hashFeatures(df, "doc_id", "text")
      .as[(Long, String, Long)].collect().toSeq
    // Per-doc bucket counts must sum to the doc's token count.
    val perDoc = out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(perDoc == Map(1L -> 5L, 2L -> 1L))
    // 'a' hashes identically everywhere: doc 1 has a 3-count bucket and a
    // 2-count bucket (unless 'a','b' collide into one 5-count bucket).
    val d1 = out.filter(_._1 == 1L).map(_._3).sorted
    assert(d1 == Seq(2L, 3L) || d1 == Seq(5L))
    // Doc 2's 'a' bucket matches doc 1's 3-count bucket id.
    val aBucket = out.find(r => r._1 == 2L).get._2
    assert(out.exists(r => r._1 == 1L && r._2 == aBucket))
  }

  test("hashFeatures: buckets are md5-nibble keys, stable across runs") {
    val df = Seq((1L, "x y z x")).toDF("doc_id", "text")
    val a = TextOps.hashFeatures(df, "doc_id", "text")
      .orderBy("bucket").collect().toSeq
    val b = TextOps.hashFeatures(df.repartition(5), "doc_id", "text")
      .orderBy("bucket").collect().toSeq
    assert(a == b)
    assert(a.forall(_.getString(1).matches("[0-9a-f]")))
  }
  test("tokenDrift: smoothed two-sample chi-square by hand") {
    val a = Seq((1L, "a a b")).toDF("doc_id", "text")
    val b = Seq((2L, "a b b b")).toDF("doc_id", "text")
    // smoothed: a:(3,2) b:(2,4); n1=5 n2=6
    // chi2(a) = (6*3-5*2)^2/((5*6)*5); chi2(b) = (6*2-5*4)^2/((5*6)*6)
    val out = TextOps.tokenDrift(a, b, "text").orderBy("token")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("a", 2L, 1L, 64.0 / 150.0), ("b", 1L, 3L, 64.0 / 180.0)))
  }

  test("bm25: hand-computed scores, tf monotonicity, non-matchers absent") {
    // Corpus of 4 docs, every doc length 4 (so the length normalizer is
    // identical across docs and tf dominates).
    val df = Seq(
      (1L, "apple apple apple pear"),
      (2L, "apple pear plum kiwi"),
      (3L, "plum plum kiwi kiwi"),
      (4L, "kiwi kiwi kiwi kiwi")).toDF("doc_id", "text")
    val out = TextOps.bm25(df, "doc_id", "text", Seq("apple", "plum"), topK = 10)
      .as[(Long, Long, Double)].collect().toSeq
    val byId = out.map(r => r._1 -> r._3).toMap
    // doc 4 matches no query term → absent
    assert(!byId.contains(4L) && out.map(_._1).toSet == Set(1L, 2L, 3L))
    // N=4; apple df=2 → idf=(2*2+1)/(2*2+1)=1; plum df=2 → idf=1.
    // avgdl=4, dl=4 → norm = 0.25+0.75*1 = 1; denom = tf + 1.5.
    def s(tf: Double) = tf * 2.5 / (tf + 1.5)
    assert(byId(1L) == s(3))       // apple tf=3
    assert(byId(2L) == s(1) + s(1)) // apple+plum tf=1 each
    assert(byId(3L) == s(2))       // plum tf=2
    // higher tf of the same term scores strictly higher
    assert(byId(1L) > byId(3L) && byId(3L) > s(1))
    // output is (score desc, doc_id) ordered
    assert(out == out.sortBy(r => (-r._3, r._1)))
  }

  test("bpeMergeRound: picks the most frequent pair, merges greedily") {
    val df = Seq(
      (1L, "a b a b c"),
      (2L, "a b x"),
      (3L, "c c c")).toDF("doc_id", "text")
    // pair counts: "a b"=3, "b a"=1, "b c"=1, "b x"=1, "c c"=2
    val out = TextOps.bpeMergeRound(df, "doc_id", "text")
      .select("doc_id", "best_pair", "text_merged")
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.values.forall(_._1 == "a b"))
    assert(out(1L)._2 == "a_b a_b c")
    assert(out(2L)._2 == "a_b x")
    assert(out(3L)._2 == "c c c")
  }

  test("bpeMergeRound ties break to the lexicographically smallest pair") {
    val df = Seq((1L, "z y"), (2L, "b a")).toDF("doc_id", "text")
    // both pairs have count 1 → "b a" wins
    val out = TextOps.bpeMergeRound(df, "doc_id", "text")
      .select("doc_id", "best_pair", "text_merged")
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ("b a", "z y"))
    assert(out(2L) == ("b a", "b_a"))
  }

  test("bpeLearnVocab: ranked merges compound round over round") {
    val df = Seq(
      (1L, "a b a b c"),
      (2L, "a b x"),
      (3L, "c c c")).toDF("doc_id", "text")
    // Round 1: "a b"=3 wins → texts: "a_b a_b c", "a_b x", "c c c".
    // Round 2: pairs now "a_b a_b"=1, "a_b c"=1, "a_b x"=1, "c c"=2 →
    // "c c" wins with freq 2 (counted on the MERGED text — compounding).
    // Round 3: "a_b a_b"=1, "a_b c"=1, "a_b x"=1, "c_c c"=1 → tie on 1,
    // lexicographically smallest "a_b a_b" wins.
    val out = TextOps.bpeLearnVocab(df, "doc_id", "text", rounds = 3)
      .orderBy("rank")
      .as[(Long, String, String, Long)].collect()
    assert(out(0) == ((1L, "a b", "a_b", 3L)))
    assert(out(1) == ((2L, "c c", "c_c", 2L)))
    assert(out(2) == ((3L, "a_b a_b", "a_b_a_b", 1L)))
  }

  test("bpeLearnVocab stops early when no bigrams remain") {
    val df = Seq((1L, "solo"), (2L, "x")).toDF("doc_id", "text")
    assert(TextOps.bpeLearnVocab(df, "doc_id", "text", rounds = 5).count() == 0)
  }

  test("bpeEncode applies learned merges in rank order") {
    val df = Seq(
      (1L, "a b a b c"),
      (2L, "a b x"),
      (3L, "c c c")).toDF("doc_id", "text")
    val vocab = TextOps.bpeLearnVocab(df, "doc_id", "text", rounds = 2)
      .orderBy("rank").as[(Long, String, String, Long)].collect()
      .map(r => (r._2, r._3)).toSeq
    // rank 1 = "a b" -> "a_b", rank 2 = "c c" -> "c_c" (compounded count)
    val out = TextOps.bpeEncode(df, "text", vocab)
      .select("doc_id", "text_encoded", "n_tokens_raw", "n_tokens_encoded")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == (("a_b a_b c", 5L, 3L)))
    // greedy left-to-right: "c c c" -> "c_c c" (non-overlapping)
    assert(out(3L) == (("c_c c", 3L, 2L)))
    assert(out(2L) == (("a_b x", 3L, 2L)))
  }

  test("bpeEncode on unseen text reuses the trained vocabulary") {
    val train = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val vocab = TextOps.bpeLearnVocab(train, "doc_id", "text", rounds = 1)
      .as[(Long, String, String, Long)].collect().map(r => (r._2, r._3)).toSeq
    val fresh = Seq((9L, "x a b y")).toDF("doc_id", "text")
    val enc = TextOps.bpeEncode(fresh, "text", vocab)
      .select("text_encoded").as[String].head()
    assert(enc == "x a_b y")
  }

  test("bm25: rarer term outweighs common term at equal tf and dl") {
    val df = Seq(
      (1L, "rare x y z"),
      (2L, "common x y z"),
      (3L, "common a b c"),
      (4L, "common d e f")).toDF("doc_id", "text")
    val out = TextOps.bm25(df, "doc_id", "text", Seq("rare", "common"), 10)
      .as[(Long, Long, Double)].collect()
    val byId = out.map(r => r._1 -> r._3).toMap
    // idf(rare: df=1) = 7/3 > idf(common: df=3) = 3/7; tf=1, dl=4 for all
    assert(byId(1L) > byId(2L))
    assert(byId(2L) == byId(3L) && byId(3L) == byId(4L))
  }

  test("stripBoilerplate: cross-doc segments stripped everywhere, " +
      "within-doc repeats kept, scope isolates sources") {
    // 2-word segments. "nav bar" appears in docs 1 AND 2 (same source) →
    // stripped from BOTH (segment dedup would keep doc 1's copy). Doc 3
    // repeats "pay load" twice WITHIN itself → df=1, kept. Doc 4 has
    // "nav bar" in a DIFFERENT source → kept there.
    val df = Seq(
      (1L, "s1", "nav bar alpha beta"),
      (2L, "s1", "nav bar gamma delta"),
      (3L, "s1", "pay load pay load"),
      (4L, "s2", "nav bar omega psi")).toDF("doc_id", "source", "text")
    val out = TextOps.stripBoilerplate(df, "doc_id", "text",
        segWords = 2, minDf = 2, scopeCols = Seq("source"))
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 1L, "alpha beta")))
    assert(out(2L) == ((2L, 1L, "gamma delta")))
    assert(out(3L) == ((2L, 2L, "pay load pay load")))
    assert(out(4L) == ((2L, 2L, "nav bar omega psi")))
  }


  test("vocabGrowth: hand-computed two-slice curve; slices partition evenly") {
    val df = Seq(
      (1L, "g", "a b"), (2L, "g", "a c"), (3L, "g", "c d"), (4L, "g", "a b"))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.vocabGrowth(df, "doc_id", "text", "lang", slices = 2)
      .as[(String, Int, Long, Long, Long)].collect()
      .map(r => r._2 -> ((r._3, r._4, r._5))).toMap
    // slice 1 = docs {1,2}: 4 tokens, vocab {a,b,c} = 3;
    // slice 2 = docs {3,4}: 8 tokens total, + {d} -> vocab 4.
    assert(out == Map(1 -> ((2L, 4L, 3L)), 2 -> ((4L, 8L, 4L))))
  }

  test("vocabGrowth: vocab is monotone and ends at the block's distinct count") {
    val docs = spark.read.parquet(sf("documents"))
    val out = TextOps.vocabGrowth(docs, "doc_id", "text", "lang", 5)
      .as[(String, Int, Long, Long, Long)].collect()
    val byBlk = out.groupBy(_._1)
    val truth = docs.select($"lang",
        explode(split($"text", " ")).as("tok"))
      .groupBy("lang").agg(countDistinct("tok").as("v"))
      .as[(String, Long)].collect().toMap
    byBlk.foreach { case (blk, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._5).toSeq == sorted.map(_._5).sorted.toSeq)
      assert(sorted.last._5 == truth(blk))
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq)
    }
  }

  test("noveltyStats: first doc all novel; copies zero; partial overlap counted") {
    val docs = Seq(
      (1L, "a b c d"),          // grams: "a b", "b c", "c d" — all novel
      (2L, "a b c d"),          // exact copy — nothing novel
      (3L, "c d e f"),          // "c d" seen, "d e" and "e f" novel
      (4L, "x y"))              // single novel gram
      .toDF("doc_id", "text")
    val out = TextOps.noveltyStats(docs, "doc_id", "text", n = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, 3L, 1.0)))
    assert(out(2L) == ((3L, 0L, 0.0)))
    assert(out(3L) == ((3L, 2L, 2.0 / 3.0)))
    assert(out(4L) == ((1L, 1L, 1.0)))
  }

  test("noveltyStats: repeated grams inside one doc count once; partition-invariant") {
    val docs = Seq((1L, "a b a b a b"), (2L, "a b x"))
      .toDF("doc_id", "text")
    val once = TextOps.noveltyStats(docs, "doc_id", "text", n = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    // Doc 1 distinct 2-grams: "a b", "b a" — both novel. Doc 2: "a b"
    // seen, "b x" novel.
    assert(once.map(r => (r._1, r._2, r._3)) ==
      Set((1L, 2L, 2L), (2L, 2L, 1L)))
    val re = TextOps.noveltyStats(docs.repartition(5), "doc_id", "text", 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(re == once)
  }

  test("dupNgramStats: occurrences of grams shared across docs, by hand") {
    val docs = Seq(
      (1L, "a b a b"),  // "a b" twice (shared with doc 2), "b a" once
      (2L, "a b c"),    // "a b" (shared), "b c"
      (3L, "x y x y"))  // "x y" twice but only here, "y x" once
      .toDF("doc_id", "text")
    def stats(d: org.apache.spark.sql.DataFrame) =
      TextOps.dupNgramStats(d, "doc_id", "text", n = 2)
        .as[(Long, Long, Long, Double)].collect().toSet
    // A gram counts by occurrence: doc 1's two "a b" are both duplicates;
    // a gram repeated inside one doc only is not.
    val expected = Set((1L, 3L, 2L, 2.0 / 3.0), (2L, 2L, 1L, 0.5),
      (3L, 3L, 0L, 0.0))
    assert(stats(docs) == expected)
    assert(stats(docs.repartition(3)) == expected)
  }

  test("rakeScores: degree rewards phrase length; stopwords segment") {
    // doc 1: "deep learning | rocks" (split by 'the'): deep/learning in
    // a 2-phrase, rocks alone. doc 2: "deep learning models" one
    // 3-phrase. deep: freq 2, deg 2+3=5. learning: same. models: 1/3.
    // rocks: 1/1. Stopword 'the' never appears in output.
    val docs = Seq((1L, "deep learning the rocks"),
      (2L, "deep learning models")).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextOps.rakeScores(d, "doc_id", "text", Seq("the"))
        .as[(String, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val got = run(docs)
    assert(got == Map(
      "deep" -> ((2L, 5L, 2.5)), "learning" -> ((2L, 5L, 2.5)),
      "models" -> ((1L, 3L, 3.0)), "rocks" -> ((1L, 1L, 1.0))))
    assert(got == run(docs.repartition(3)))
  }

  test("spanMaskStats: merged spans, exact trailing-window coverage") {
    // Mask is a pure function of (id, pos): compute the expected span
    // starts the same way and replay the merge by hand.
    val text = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val starts = (0 until 40).filter { pos =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"7:$pos".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.startsWith("0")
    }
    val masked = (0 until 40).count(p =>
      starts.exists(st => st <= p && p < st + 3))
    val out = TextOps.spanMaskStats(docs, "doc_id", "text", spanLen = 3)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(out._2 == 40L && out._3 == starts.length.toLong &&
      out._4 == masked.toLong)
    assert(out._5 == masked.toDouble / 40.0)
    val re = TextOps.spanMaskStats(docs.repartition(3), "doc_id", "text", 3)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(re == out)
  }

  test("zipfProfile: frequency ranks with lexicographic ties; head only") {
    val docs = Seq((1L, "b b b a a c d"), (2L, "a c")).toDF("id", "text")
    // counts: a=3, b=3, c=2, d=1 -> ranks: a(1), b(2), c(3), d cut at k=3.
    def run(d: org.apache.spark.sql.DataFrame) =
      TextOps.zipfProfile(d, "text", topK = 3)
        .as[(Int, String, Long, Long)].collect().toSet
    val got = run(docs)
    assert(got == Set((1, "a", 3L, 3L), (2, "b", 3L, 6L), (3, "c", 2L, 6L)))
    assert(got == run(docs.repartition(4)))
  }

  test("backoffLmScore: each backoff branch matches hand-computed counts") {
    // ref "a b c a b d": tri c("a b c")=1; bi c("a b")=2, c("b c")=1;
    // uni a=2 b=2 c=1 d=1, N=6.
    val ref = Seq((0L, "a b c a b d")).toDF("id", "text")
    val corpus = Seq(
      (1L, "a b c"), // seen trigram: 1/2
      (2L, "z b c"), // bigram backoff: 0.4 * (1/2)
      (3L, "z z c"), // unigram backoff: 0.16 * (1/6)
      (4L, "z z q"), // OOV w3: 0
      (5L, "a b")    // < 3 tokens: dropped
    ).toDF("id", "text")
    val out = TextOps.backoffLmScore(corpus, ref, "id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    val grid = (s: Double) => math.floor(s * 1e12) / 1e12
    assert(out == Seq(
      (1L, 1L, grid(1.0 / 2)),
      (2L, 1L, grid(0.4 * (1.0 / 2))),
      (3L, 1L, grid(0.16 * (1.0 / 6))),
      (4L, 1L, 0.0)))
    // Partition-invariant (the gate-exactness property).
    val re = TextOps.backoffLmScore(corpus.repartition(3), ref, "id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    assert(re == out)
  }

  test("dsirScores: target-like docs outrank non-target; self-target ~1") {
    val raw = Seq((1L, "a b a b"), (2L, "x y x y")).toDF("id", "text")
    val target = raw.filter(col("id") === 2L)
    val out = TextOps.dsirScores(raw, target, "id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    // 3 bigram occurrences each; the target-matching doc scores higher.
    assert(out.map(r => (r._1, r._2)) == Seq((1L, 3L), (2L, 3L)))
    assert(out(1)._3 > out(0)._3)
    // target == raw: every bucket ratio is algebraically 1 (IEEE leaves
    // it within one 1e-6 grid cell of 1).
    val self = TextOps.dsirScores(raw, raw, "id", "text")
      .as[(Long, Long, Double)].collect()
    assert(self.forall(r => math.abs(r._3 - 1.0) <= 1e-6))
    // Partition-invariant.
    val re = TextOps.dsirScores(raw.repartition(4), target, "id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    assert(re == out)
  }

  test("dsirSelect: acceptance skews toward the target-like source") {
    val raw = Seq((1L, "web", "a b a b"), (2L, "web", "a b a c"),
      (3L, "wiki", "x y x y"), (4L, "wiki", "x y y x"))
      .toDF("id", "src", "text")
    val target = raw.filter(col("src") === "wiki")
    val out = TextOps.dsirSelect(raw, target, "id", "text", "src",
        keepFrac = 0.5)
      .orderBy("source").as[(String, Long, Long, Double)].collect().toSeq
    // top half by importance = the two wiki-like docs.
    assert(out == Seq(("web", 2L, 0L, 0.0), ("wiki", 2L, 2L, 1.0)))
    val re = TextOps.dsirSelect(raw.repartition(3), target, "id", "text",
        "src", keepFrac = 0.5)
      .orderBy("source").as[(String, Long, Long, Double)].collect().toSeq
    assert(re == out)
  }

  test("dsirSelectThreshold: full sample == exact rank form " +
      "(distinct scores); empty sample keeps nothing") {
    // 8 docs in two sources with graded target overlap -> distinct
    // scores. With a FULL sample ('zz' > every hex prefix) the threshold
    // is the score at rank floor(n*keepFrac) — exactly the exact form's
    // cut — so with no score ties the two reports must be identical.
    val raw = Seq(
      (1L, "web", "a b a b a b"), (2L, "web", "a b a c a d"),
      (3L, "web", "a c b d c e"), (4L, "web", "c d d e e f"),
      (5L, "wiki", "x y x y x y"), (6L, "wiki", "x y x z x w"),
      (7L, "wiki", "x z y w z v"), (8L, "wiki", "z w w v v u"))
      .toDF("id", "src", "text")
    val target = raw.filter(col("src") === "wiki")
    val exact = TextOps.dsirSelect(raw, target, "id", "text", "src",
        keepFrac = 0.5)
      .orderBy("source").as[(String, Long, Long, Double)].collect().toSeq
    def run(hexCeil: String, in: org.apache.spark.sql.DataFrame = raw) =
      TextOps.dsirSelectThreshold(in, target, "id", "text",
          "src", keepFrac = 0.5, sampleHexCeil = hexCeil)
        .orderBy("source")
        .as[(String, Long, Long, Double, Long, Boolean)].collect().toSeq
    val full = run("zz")
    assert(full.map(r => (r._1, r._2, r._3, r._4)) == exact)
    // Full sample: all 8 scored docs sampled, threshold placed — the
    // observability columns say so on every row.
    assert(full.forall(r => r._5 == 8L && r._6))
    // Empty sample -> no threshold can be placed -> conservative: keep 0 —
    // and the report SURFACES it (n_sample = 0, has_threshold = false)
    // instead of a silently-empty kept set.
    val none = run("00")
    assert(none.map(_._3).sum == 0L)
    assert(none.forall(r => r._5 == 0L && !r._6))
    // Partition-invariant.
    assert(run("zz", raw.repartition(3)) == full)
  }

  test("lmScoreBucketsThreshold: full sample == exact ntile form; " +
      "unplaceable cuts collapse to bucket 1") {
    val docs = Seq(
      (1L, "en", "a a a a a a a a"), (2L, "en", "a a a a a a a b"),
      (3L, "en", "a b a b a b a b"), (4L, "en", "a b c a b c a b"),
      (5L, "en", "a b c d e f g h"), (6L, "en", "h g f e d c b a"))
      .toDF("id", "lang", "text")
    val exact = TextOps.lmScoreBuckets(docs, "id", "text", "lang",
        buckets = 3)
      .orderBy("bucket")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    // FULL sample: cut b = score at rank floor(6*b/3) — the last row of
    // exact tile b — so (with distinct scores) assignment reproduces the
    // ntile tiles exactly.
    val full = TextOps.lmScoreBucketsThreshold(docs, "id", "text", "lang",
        buckets = 3, sampleHexCeil = "zz")
      .orderBy("bucket")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(full == exact)
    // Empty sample: no cuts placed -> every doc stays in bucket 1.
    val none = TextOps.lmScoreBucketsThreshold(docs, "id", "text", "lang",
        buckets = 3, sampleHexCeil = "00")
      .orderBy("bucket")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(none.map(_._2) == Seq(1L) && none.head._3 == 6L)
  }

  test("lmScoreBuckets: per-group terciles are ordered, sized, exhaustive") {
    // 6 docs, one lang: repetitive docs score high avg_p, diverse low.
    val docs = Seq(
      (1L, "en", "a a a a a a a a"), (2L, "en", "a a a a a a a b"),
      (3L, "en", "a b a b a b a b"), (4L, "en", "a b c a b c a b"),
      (5L, "en", "a b c d e f g h"), (6L, "en", "h g f e d c b a"))
      .toDF("id", "lang", "text")
    val out = TextOps.lmScoreBuckets(docs, "id", "text", "lang", buckets = 3)
      .orderBy("bucket")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(out.map(_._2) == Seq(1L, 2L, 3L))     // all three buckets present
    assert(out.forall(_._3 == 2L))               // 2 docs per tercile
    assert(out.map(_._4).sum == 6L * 7L)         // 7 bigrams per doc
    // Buckets are score-descending and internally consistent.
    assert(out.forall(r => r._5 <= r._6))
    assert(out(0)._5 >= out(1)._6 && out(1)._5 >= out(2)._6)
  }
}
