package graft

import graft.operators._
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z")))
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq ==
      Seq((1L, 1L, 0), (2L, 1L, 1), (3L, 3L, 0)))
  }

  test("jaccard pairs finds near-dups, skips unrelated") {
    val out = Dedup.jaccardPairs(docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now")), 0.5)
    val pairs = out.select("doc1", "doc2").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("prefix-filtered jaccard equals the naive all-pairs join") {
    // random-ish corpus with heavy token overlap (worst case for the
    // naive join, the case the prefix filter must not change)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val corpus = (0L until 30L).map { i =>
      val words = (0 until 12).map(j => vocab(((i * 7 + j * 5 + (i * j) % 11) % 8).toInt))
      (i, words.mkString(" "))
    }
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val fast = Dedup.jaccardPairs(docs(corpus: _*), t)
        .select("doc1", "doc2", "inter", "n1", "n2")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      // naive reference: exact Jaccard over every pair, computed locally
      val sets = corpus.map { case (id, text) =>
        id -> text.split("\\s+").sliding(2).map(_.mkString(" ")).toSet
      }.toMap
      val naive = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) & sets(b)).size
        jac = inter.toDouble / (sets(a).size + sets(b).size - inter)
        if BigDecimal(jac + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= t
      } yield (a, b, inter.toLong, sets(a).size.toLong, sets(b).size.toLong)).toSet
      assert(fast == naive, s"threshold $t")
    }
  }

  test("clusters propagates the canonical id across a similarity chain") {
    // 1~2 and 2~3 but 1≁3: transitivity must still pull 3 into cluster 1
    val out = Dedup.clusters(docs(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f x y"),
      (3L, "c d e f x y z w"),
      (9L, "q r s t u v n m")), 0.4)
      .orderBy("doc_id")
      .as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((1L, 1L, 0), (2L, 1L, 1), (3L, 1L, 1), (9L, 9L, 0)))
  }

  test("minhash LSH surfaces the same near-dup pair") {
    val out = Dedup.minhashLsh(docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and once"),
      (3L, "completely different words entirely here now for sure")), threshold = 0.3)
    val pairs = out.select("doc1", "doc2").as[(Long, Long)].collect().toSeq
    assert(pairs.contains((1L, 2L)))
  }

  test("minhash calibration: identical docs estimate J = 1 with zero error") {
    val out = Dedup.minhashCalibration(docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words entirely here now for sure")), threshold = 0.3)
      .select("doc1", "doc2", "n_match", "est_j", "jac", "abs_err")
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    // identical shingle sets → every permutation min matches
    assert(out == Seq((1L, 2L, 64L, 1.0, 1.0, 0.0)))
  }

  test("simhash finds identical docs at hamming 0, skips unrelated") {
    val out = Dedup.simhash(docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight")), maxHamming = 3)
    val pairs = out.select("doc1", "doc2", "hamming").as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 0L)))
  }

  test("knn brute cosine ranks the identical vector first") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.001f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.knnBruteCosine(e, nQueries = 1, k = 3)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    assert(out.head == 1L)
  }

  test("filteredKnn pre-filters by label and flags post-filter recall loss") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0), // query, label 0
      (1L, Array(1.0f, 0.001f, 0.0f), 0), // nearest overall, SAME label
      (2L, Array(0.9f, 0.1f, 0.0f), 1),
      (3L, Array(0.5f, 0.5f, 0.0f), 1),
      (4L, Array(0.0f, 1.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.filteredKnn(e, nQueries = 1, k = 2)
      .orderBy("rank")
      .select("nid", "in_post").as[(Long, Int)].collect().toSeq
    // pre-filter answer: 2 then 3; the unfiltered top-2 is (1, 2), so
    // 3 is exactly what post-filtering would have lost
    assert(out == Seq((2L, 1), (3L, 0)))
  }

  test("lsh ann returns ranked neighbors from the same bucket") {
    val e = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f) else Array(0.0f, 1.0f, 0.0f)
      (i.toLong, base.map(_ + i * 1e-4f))
    }.toDF("vec_id", "embedding")
    val out = Similarity.lshAnn(e, nPlanes = 4, nQueries = 2, k = 3)
    assert(out.count() > 0)
  }

  test("int8 quantization error is bounded by scale/2; constants are exact") {
    val e = Seq(
      (1L, Array(0.0f, 1.0f, 0.5f, 0.25f), 0),
      (2L, Array(3.0f, 3.0f, 3.0f, 3.0f), 1), // constant → scale 0, exact
      (3L, Array(-2.0f, 2.0f, 0.1f, -0.7f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.int8QuantStats(e).orderBy("vec_id").collect()
    out.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val err = r.getAs[Double]("max_abs_err")
      assert(err <= scale / 2 + 1e-9, s"err $err exceeds scale/2 ${scale / 2}")
    }
    val const = out(1)
    assert(const.getAs[Double]("scale") == 0.0 && const.getAs[Double]("max_abs_err") == 0.0)
    assert(out(2).getAs[Double]("mn") == -2.0 && out(2).getAs[Double]("mx") == 2.0)
  }

  test("label centroid similarity flags clone classes, zeros orthogonal ones") {
    val e = (0 until 30).map { i =>
      val lbl = i % 3
      val base = lbl match {
        case 0 => Array(1.0f, 0.0f, 0.0f, 0.0f)
        case 1 => Array(0.0f, 1.0f, 0.0f, 0.0f)
        case _ => Array(1.0f, 0.0f, 0.0f, 0.0f) // label 2 duplicates label 0
      }
      (i.toLong, base, lbl)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidSim(e).orderBy("label_a", "label_b")
      .select("label_a", "label_b", "cos_sim")
      .as[(Int, Int, Double)].collect().toSeq
    assert(out == Seq((0, 1, 0.0), (0, 2, 1.0), (1, 2, 0.0)))
  }

  test("batch drift cosine compares each batch centroid to the global one") {
    // batch 0 = all [1,0], batch 1 = all [0,1]; global centroid is
    // [0.5, 0.5], so both batches sit at cos 1/sqrt(2) from it
    val e = (0 until 20).map { i =>
      val v = if (i % 2 == 0) Array(1.0f, 0.0f) else Array(0.0f, 1.0f)
      (i.toLong, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.batchDriftCosine(e, col("vec_id") % 2)
      .orderBy("batch").select("batch", "n_vecs", "cos_global")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((0L, 10L, 0.7071), (1L, 10L, 0.7071)))
    // one homogeneous batch: centroid == global centroid → cos 1.0
    val one = (0 until 4).map(i => (i.toLong, Array(0.6f, 0.8f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.batchDriftCosine(one, lit(0L))
      .select("cos_global").as[Double].head() == 1.0)
  }

  test("word entropy: uniform docs hit ln(n), repeated-word docs hit zero") {
    val d = Seq(
      (1L, "a a a a"),          // one type: H = 0, ttr = 0.25
      (2L, "a b c d"))          // uniform over 4: H = ln 4
      .toDF("doc_id", "text")
    val out = TextAnalysis.wordEntropy(d).orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_types", "ttr", "h_word")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(out(0) == ((1L, 4L, 1L, 0.25, 0.0)))
    assert(out(1) == ((2L, 4L, 4L, 1.0, 1.3863)))
  }

  test("token stats and quality are sane") {
    val d = Seq((1L, "Hello world, this is a test!")).toDF("doc_id", "text")
    val t = TextAnalysis.tokenStats(d).head()
    assert(t.getLong(1) == 6L)
    val q = TextAnalysis.qualityScore(d).head()
    assert(q.getDouble(5) > 0.0 && q.getDouble(5) <= 1.0)
  }

  test("langid picks the language with most stopword hits") {
    val d = Seq(
      (1L, "the cat is on the mat and it is fine"),
      (2L, "der hund ist nicht mit das ein zu den")).toDF("doc_id", "text")
      .withColumn("lang", lit("?"))
    val out = TextAnalysis.langId(d).orderBy("doc_id")
      .select("lang_pred").as[String].collect().toSeq
    assert(out == Seq("en", "de"))
  }

  test("pii scrub redacts emails, ips, and digit runs with counts") {
    val d = Seq(
      (1L, "mail alice.smith+x@corp.example.org or 192.168.1.200, card 41111111111"),
      (2L, "nothing sensitive here at all"),
      (3L, "two mails a@b.io c@d.net and ip 10.0.0.1")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(d).orderBy("doc_id")
      .select("doc_id", "n_email", "n_ipv4", "n_digits")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 1L, 1L), (2L, 0L, 0L, 0L), (3L, 2L, 1L, 0L)))
  }

  test("pii scrub leaves no pattern behind in the scrubbed digest") {
    val d = Seq((1L, "x@y.com then 1.2.3.4 then 99999999")).toDF("doc_id", "text")
    // re-scrubbing the scrubbed text must be a fixed point: counts all 0
    val once = d.select(col("doc_id"),
      graft.operators.TextAnalysis.PiiPatterns.foldLeft(col("text")) {
        case (c, (kind, pat)) => regexp_replace(c, pat, s"<$kind>")
      }.as("text"))
    val counts = TextAnalysis.piiScrub(once).head()
    assert(counts.getLong(1) == 0L && counts.getLong(2) == 0L && counts.getLong(3) == 0L)
  }

  test("tfidf top terms rank rare terms over common ones") {
    val d = Seq(
      (1L, "alpha alpha alpha shared shared common"),
      (2L, "beta beta shared common common common"),
      (3L, "gamma gamma common shared")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTop(d, 2).orderBy("doc_id", "rk")
      .select("doc_id", "rk", "term").as[(Long, Int, String)].collect().toSeq
    // each doc's dominant unique term (df=1) outranks corpus-wide terms
    assert(out.filter(_._2 == 1).map(_._3) == Seq("alpha", "beta", "gamma"))
    // k bounds the output per doc
    assert(out.groupBy(_._1).forall(_._2.size <= 2))
  }

  test("multimodal decode meta is deterministic plumbing") {
    val d = docs((1L, "payload one"), (2L, "payload two"))
    val m1 = Multimodal.decodeMeta(d).orderBy("doc_id").collect()
    val m2 = Multimodal.decodeMeta(d.repartition(4)).orderBy("doc_id").collect()
    assert(m1.toSeq == m2.toSeq)
    assert(m1.forall(_.getLong(1) > 0))
  }

  test("resize plan fits into the box preserving aspect, passes small through") {
    val meta = Seq(
      (1L, 1024, 512),  // 2:1 landscape → 256×128
      (2L, 100, 200),   // small portrait → untouched
      (3L, 300, 900)    // 1:3 portrait → 85×256
    ).toDF("doc_id", "width", "height")
      .withColumn("format", lit("png"))
    val out = Multimodal.resizePlan(meta, 256).orderBy("doc_id")
      .select("out_width", "out_height", "resized")
      .as[(Int, Int, Int)].collect().toSeq
    assert(out == Seq((256, 128, 1), (100, 200, 0), (85, 256, 1)))
  }

  test("frame sampling strides deterministically from payload size") {
    val d = docs((1L, "x" * 450), (2L, "y" * 90))
    val out = Multimodal.frameSample(d, stride = 2).orderBy("doc_id", "frame_idx")
      .select("doc_id", "frame_idx").as[(Long, Long)].collect().toSeq
    // 450 bytes → frames 0..4, stride 2 → 0,2,4; 90 bytes → frame 0
    assert(out == Seq((1L, 0L), (1L, 2L), (1L, 4L), (2L, 0L)))
  }

  test("quality gate keeps clean english docs and records drop reasons") {
    val d = Seq(
      (1L, "the cat is on the mat and it is fine for sure today"),
      (2L, "der hund ist nicht mit das ein zu den heute"),
      (3L, "a b"),
      (4L, "1,2,3!!! 4,5,6??? 7,8,9;;; the of to 0,1,2!!!")).toDF("doc_id", "text")
    val out = TextAnalysis.qualityGate(d, minTokens = 5, maxTokens = 50, minQuality = 0.5)
      .orderBy("doc_id")
      .select("doc_id", "keep", "ok_lang", "ok_len", "ok_quality")
      .as[(Long, Int, Int, Int, Int)].collect().toSeq
    assert(out.head == ((1L, 1, 1, 1, 1)))
    assert(out(1)._3 == 0, "german doc must fail the language gate")
    assert(out(2)._4 == 0, "two-token doc must fail the length gate")
    assert(out(3)._5 == 0, "punct/digit soup must fail the quality gate")
    assert(out.drop(1).forall(_._2 == 0))
  }

  test("recallAtK is 1 when ANN returns the ground truth, 0 when it misses") {
    val truth = Seq((0L, 1, 10L), (0L, 2, 11L), (1L, 1, 20L), (1L, 2, 21L))
      .toDF("qid", "rank", "nid")
    val ann = Seq((0L, 1, 10L), (0L, 2, 11L), (1L, 1, 99L), (1L, 2, 98L))
      .toDF("qid", "rank", "nid")
    val out = Similarity.recallAtK(ann, truth, k = 2).orderBy("qid")
      .select("qid", "recall").as[(Long, Double)].collect().toSeq
    assert(out == Seq((0L, 1.0), (1L, 0.0)))
  }

  test("phash pairs identical payloads at distance 0 and skips distinct ones") {
    val d = docs(
      (1L, "identical payload body"),
      (2L, "identical payload body"),
      (5L, "identical payload body"),
      (9L, "something else entirely which will not collide"))
    val out = Multimodal.phashPairs(d).as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((1L, 2L, 0), (1L, 5L, 0), (2L, 5L, 0)))
    // partition-count invariant (the bucket join must not depend on layout)
    val out4 = Multimodal.phashPairs(d.repartition(4)).as[(Long, Long, Int)]
      .collect().toSeq
    assert(out4 == out)
  }

  test("phash is content-local: near-identical payloads pair, unrelated do not") {
    // the stub derives luma cells from hashed shingle-class frequencies,
    // so a localized edit perturbs only the touched cells — the property
    // a real aHash has and the pair join exists to exploit
    val base = (0 until 256).map(i => ('a' + (i * 13 + i / 7) % 26).toChar).mkString
    // swap two distant characters: two cells change, corpus mean doesn't
    val arr = base.toCharArray
    val t = arr(10); arr(10) = arr(200); arr(200) = t
    val near = new String(arr)
    val unrelated = (0 until 256).map(i => ('A' + (i * 31 + 5) % 26).toChar).mkString
    val out = Multimodal.phashPairs(docs((1L, base), (2L, near), (3L, unrelated)))
      .as[(Long, Long, Int)].collect().toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"near-dup must pair, unrelated must not: $out")
    assert(out.head._3 <= 3)
  }

  test("bigram entropy ranks corpus-unlike text above typical text") {
    val typical = (1L to 8L).map(i => (i, "the cat sat on the mat and the hat"))
    val weird = Seq((99L, "zqxj qzxw jxqz wqjx zzqq"))
    val d = (typical ++ weird).toDF("doc_id", "text")
    val out = TextAnalysis.bigramEntropy(d).orderBy("doc_id")
      .select("doc_id", "entropy_bits").as[(Long, Double)].collect()
    val typicalBits = out.filter(_._1 <= 8L).map(_._2)
    val weirdBits = out.find(_._1 == 99L).get._2
    assert(weirdBits > typicalBits.max + 1.0,
      s"corpus-unlike text must score high: $weirdBits vs ${typicalBits.max}")
    // partition-count invariant (quantized integer sums, no double noise)
    val out4 = TextAnalysis.bigramEntropy(d.repartition(7)).orderBy("doc_id")
      .select("doc_id", "entropy_bits").as[(Long, Double)].collect()
    assert(out4.toSeq == out.toSeq)
  }

  test("repetition stats expose loops and stay zero on clean text") {
    val d = docs(
      (1L, "spam spam spam spam"),
      (2L, "every word here is different today"),
      (3L, "one"))
    val out = TextAnalysis.repetitionStats(d).orderBy("doc_id")
      .select("n_words", "top_word_n", "top_word_frac",
        "dup_bigram_frac", "dup_trigram_frac")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    // 4×"spam": 3 identical bigrams → 2/3 dups; 2 identical trigrams → 1/2
    assert(out.head == ((4L, 4L, 1.0, 0.6667, 0.5)))
    assert(out(1) == ((6L, 1L, 0.1667, 0.0, 0.0)))
    // single word: no n-grams — fractions are 0, not null
    assert(out(2) == ((1L, 1L, 1.0, 0.0, 0.0)))
  }

  test("bloom sketch probe admits every member; verify join stays exact") {
    import org.apache.spark.sql.graft.VectorExpressions._
    val keys = (1L to 500L).filter(_ % 3 == 0).toDF("k")
    val sketch = keys.agg(bloomAgg($"k", 1000L, 8000L).as("bf"))
      .head().getAs[Array[Byte]](0)
    val probe = (1L to 500L).toDF("x")
      .filter(bloomMightContain(lit(sketch), $"x"))
    val probed = probe.as[Long].collect().toSet
    // no false negatives, ever
    assert((1L to 500L).filter(_ % 3 == 0).toSet.subsetOf(probed))
    // prefilter + exact semi-join == plain semi-join
    val viaBloom = probe.join(keys, probe("x") === keys("k"), "left_semi")
      .as[Long].collect().toSet
    assert(viaBloom == (1L to 500L).filter(_ % 3 == 0).toSet)
  }

  test("clusters over a precomputed edge list skips pair detection") {
    val d = docs((1L, "x"), (2L, "y"), (3L, "z"), (9L, "w"))
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc1", "doc2")
    val out = Dedup.clusters(d, precomputedPairs = Some(edges))
      .orderBy("doc_id").as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((1L, 1L, 0), (2L, 1L, 1), (3L, 1L, 1), (9L, 9L, 0)))
  }

  test("langidConfusion tallies true-vs-predicted cells with row shares") {
    val d = Seq(
      (1L, "en", "the cat is on the mat and it is fine"),
      (2L, "en", "the dog is of the house for it"),
      (3L, "en", "der hund ist nicht mit das ein zu den"), // mislabeled row
      (4L, "de", "der hund ist nicht mit das ein zu den"))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.langidConfusion(d).orderBy("lang_true", "lang_pred")
      .select("lang_true", "lang_pred", "n", "frac_of_true")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("de", "de", 1L, 1.0),
      ("en", "de", 1L, 0.3333),
      ("en", "en", 2L, 0.6667)), s"got $out")
  }

  test("gateStats rolls keep rate and per-reason drops up to source x lang") {
    val d = Seq(
      (1L, "s1", "en", "the cat is on the mat and it is fine today"),
      (2L, "s1", "en", "a b"), // fails length
      (3L, "s1", "de", "der hund ist nicht mit das ein zu den heute"), // fails lang
      (4L, "s2", "en", "the dog is of the house for it and me"))
      .toDF("doc_id", "source", "lang", "text")
    val out = TextAnalysis.gateStats(d)
      .orderBy("source", "lang")
      .select("source", "lang", "n_docs", "n_keep", "fail_lang", "fail_len",
        "fail_quality", "keep_rate")
      .as[(String, String, Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("s1", "de", 1L, 0L, 1L, 0L, 0L, 0.0),
      ("s1", "en", 2L, 1L, 0L, 1L, 0L, 0.5),
      ("s2", "en", 1L, 1L, 0L, 0L, 0L, 1.0)), s"got $out")
  }

  test("lengthHist bins token counts per language in 16-token bins") {
    val mk = (n: Int) => (1 to n).map(_ => "w").mkString(" ")
    val d = Seq(
      (1L, "en", mk(10)), (2L, "en", mk(15)), (3L, "en", mk(20)),
      (4L, "de", mk(40)))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.lengthHist(d).orderBy("lang", "len_bin")
      .select("lang", "len_bin", "n_docs", "total_tokens")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("de", 2L, 1L, 40L),
      ("en", 0L, 2L, 25L),
      ("en", 1L, 1L, 20L)), s"got $out")
  }
}
