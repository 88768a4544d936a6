package graft

import graft.ops.{Multimodal, Relational, TextAnalysis}

class TextMultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String, String)*) =
    rows.toSeq.toDF("doc_id", "text", "lang", "source")

  test("langid: char-trigram profiles classify real sentences; unknown when nothing fires") {
    val d = docs(
      (1L, "the king and the queen of england are going to the north", "en", "s"),
      (2L, "les enfants et les parents de la ville sont dans le jardin", "fr", "s"),
      (3L, "die kinder und die eltern sind in der schule und singen ein lied", "de", "s"),
      (4L, "los perros y los gatos de la casa que esta en el campo", "es", "s"),
      (5L, "zzzz qqqq wwww", "zz", "s"))
    val got = TextAnalysis.langid(d)
      .select("doc_id", "predicted_lang", "hits")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L)._1 == "en")
    assert(got(2L)._1 == "fr")
    assert(got(3L)._1 == "de")
    assert(got(4L)._1 == "es")
    assert(got(5L) == ("unknown", 0L))
  }

  test("langid: exact trigram occurrence counting (replace-scan arithmetic)") {
    // padded " the the " holds ' th'x2, 'the'x2, 'he 'x2 -> 6 en hits, 0 elsewhere
    val d = docs((1L, "the the", "en", "s"))
    val r = TextAnalysis.langid(d)
      .select("predicted_lang", "hits").as[(String, Long)].collect().head
    assert(r == (("en", 6L)))
  }

  test("quality ratios are exact integer arithmetic") {
    val d = docs((1L, "a bb ccc dddd", "en", "s"))
    val r = TextAnalysis.quality(d)
      .select("n_tokens", "n_distinct", "ttr", "avg_token_len", "short_ratio")
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(r == ((4L, 4L, 1.0, 2.5, 0.5)))
  }

  test("bpe tokenizer: merge cascade produces known tokenizations") {
    // "the" -> |t|h|e| -> |th|e| -> |the|           = 1 token
    // "and" -> |a|n|d| -> |an|d| -> |and|           = 1 token
    // "thin" -> |th|i|n| -> |th|in|                 = 2 tokens
    // "cat"  -> |c|a|t| -> (a,t) -> |c|at|          = 2 tokens
    // "zzz"  -> no merges                           = 3 tokens
    val d = docs(
      (1L, "the and", "en", "s"),  // 2 tokens
      (2L, "thin cat", "en", "s"), // 4 tokens
      (3L, "zzz", "en", "s"))      // 3 tokens
    val r = TextAnalysis.bpeTokenStats(d)
      .select("n_docs", "bpe_tokens").as[(Long, Long)].collect().head
    assert(r == ((3L, 2L + 4L + 3L)))
  }

  test("bpe tokenizer: immediately repeated pairs both merge (doubled delimiters)") {
    // "anan" under the (a,n) merge is [an, an] = 2 tokens; the old
    // single-delimiter encoding consumed the shared middle pipe and
    // left [an, a, n] = 3
    val d = docs((1L, "anan", "en", "s"))
    val r = TextAnalysis.bpeTokenStats(d)
      .select("bpe_tokens").as[Long].collect().head
    assert(r == 2L)
  }

  test("unigram logprob: rarer tokens score higher surprise") {
    // corpus: tokens a a b c -> p(a)=1/2, p(b)=p(c)=1/4
    val d = docs((1L, "a a b", "en", "s"), (2L, "c", "en", "s"))
    val r = TextAnalysis.unigramLogprob(d)
      .select("doc_id", "n_tokens", "avg_neg_logprob")
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    val ln2 = math.log(2)
    assert(r(1L)._2 == 3L)
    assert(math.abs(r(1L)._3 - (2 * ln2 + 2 * ln2) / 3) < 1e-6) // (ln2+ln2+2ln2)/3
    assert(math.abs(r(2L)._3 - 2 * ln2) < 1e-6)                 // -ln(1/4)
    assert(r(2L)._3 > r(1L)._3)
  }

  test("repetition stats: duplicated phrase raises dup ratio; varied text keeps") {
    // "a b c a b c a b c" -> 7 raw 3-grams, 3 distinct -> dup = 4/7, top = 3/7
    val d = docs(
      (1L, "a b c a b c a b c", "en", "s"),
      (2L, "one two three four five", "en", "s")) // all distinct -> dup 0
    val r = TextAnalysis.repetitionStats(d)
      .select("doc_id", "total_3grams", "distinct_3grams", "dup_ratio", "keep")
      .as[(Long, Long, Long, Double, Boolean)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 7L, 3L, math.rint((1.0 - 3.0 / 7.0) * 1e6) / 1e6, false)))
    assert(r(2L) == ((2L, 3L, 3L, 0.0, true)))
  }

  test("pii scrub: emails then long digit runs, counted and redacted in order") {
    val d = docs(
      (1L, "mail Bob.Smith+x@Example.COM or call 0123456789 now", "en", "s"),
      (2L, "no pii here just 1234 short", "en", "s"))
    val r = TextAnalysis.piiScrub(d)
      .select("doc_id", "n_emails", "n_long_numbers", "scrubbed_len")
      .as[(Long, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(1L)._2 == 1L && r(1L)._3 == 1L)
    // "mail <email> or call <number> now" = 33 chars
    assert(r(1L)._4 == 33L)
    assert(r(2L)._2 == 0L && r(2L)._3 == 0L)
  }

  test("token stats: BPE estimate is ceil(chars/4)") {
    val d = docs((1L, "abcdefgh", "en", "s0"), (2L, "abcdefghi", "en", "s0"))
    val r = TextAnalysis.tokenStats(d)
      .select("n_docs", "total_words", "total_est_bpe")
      .as[(Long, Long, Long)].collect().head
    assert(r == ((2L, 2L, 2L + 3L)))
  }

  test("fingerprint is order-insensitive over token set") {
    val d = docs(
      (1L, "spark table scan hash", "en", "s"),
      (2L, "hash scan table spark", "en", "s"), // same set, reordered
      (3L, "spark table scan join", "en", "s"))
    val fp = TextAnalysis.fingerprints(d)
      .select("doc_id", "content_fp").as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("tfidf: corpus-wide terms score zero, distinctive terms rank first") {
    val d = docs(
      (1L, "alpha alpha beta", "en", "web"),
      (2L, "beta gamma", "en", "web"),
      (3L, "beta delta", "en", "web"))
    val top1 = TextAnalysis.tfidfTopTerms(d)
      .filter($"rnk" === 1L)
      .select("doc_id", "tok").as[(Long, String)].collect().toMap
    // beta appears in every doc -> idf = ln(1) = 0; the unique term wins
    assert(top1 == Map(1L -> "alpha", 2L -> "gamma", 3L -> "delta"))
    val betaScores = TextAnalysis.tfidfTopTerms(d)
      .filter($"tok" === "beta").select("tfidf").as[Double].collect()
    assert(betaScores.nonEmpty && betaScores.forall(_ == 0.0))
  }

  test("bigram logprob: rarer continuations score higher surprise") {
    val d = docs((1L, "x y x y x y", "en", "web"), (2L, "x y z", "en", "web"))
    val m = TextAnalysis.bigramLogprob(d)
      .select("doc_id", "avg_neg_logprob").as[(Long, Double)].collect().toMap
    // doc 2 ends in the corpus-unique continuation y->z; doc 1 repeats the
    // dominant x<->y alternation
    assert(m(2L) > m(1L))
  }

  test("quality model: distinct-rich text outscores repetitive text; keep matches threshold") {
    val d = docs(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel", "en", "web"),
      (2L, "a a a a a a a a", "en", "web"))
    val rows = TextAnalysis.qualityModel(d)
      .select("doc_id", "model_score", "keep").as[(Long, Double, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows(1L)._1 > rows(2L)._1)
    rows.values.foreach { case (s, k) => assert(k == (s >= 0.5)) }
  }

  test("multimodal: mapPartitions decoder matches the relational metadata query") {
    val media = Seq(
      Multimodal.MediaRow(1L, "image", "hello world".getBytes("UTF-8")),
      Multimodal.MediaRow(2L, "audio", Array.tabulate(100)(_.toByte)))
      .toDS()
    val feats = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).byte_len == 11L)
    assert(feats(1L).n_frames == (11 % 7 + 1))
    assert(feats(1L).checksum == "5eb63bbbe01eeed093cb22bb8f5acdc3") // md5("hello world")
    assert(feats(2L).byte_len == 100L)
    assert(feats(2L).width == 101 && feats(2L).height == 101)
  }

  test("multimodal consistency: aligned pair kept, orthogonal pair flagged") {
    // all caption mass lands in ONE hashed bucket; one embedding points
    // along exactly that fold bucket (cosine 1), the other along the next
    // (cosine 0) — so the feed mean is 0.5 and the verdicts must split
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("w".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(4)
    val b0 = (java.lang.Long.parseLong(hex, 16) % Multimodal.CONS_DIM).toInt
    val d = docs(
      (1L, "w w w", "en", "web"),
      (2L, "w w w", "en", "web"))
    def unit(b: Int): Array[Float] = {
      val a = Array.fill(graft.ops.Dedup.EMB_DIM)(0.0f)
      a(b) = 1.0f; a
    }
    val emb = Seq((1L, unit(b0), 0), (2L, unit((b0 + 1) % Multimodal.CONS_DIM), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Multimodal.consistency(d, emb)
      .select("media_id", "clip_score", "feed_margin", "verdict")
      .as[(Long, Double, Double, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == ((1.0, 0.5, "kept")))
    assert(got(2L) == ((0.0, -0.5, "inconsistent")))
  }

  test("multimodal assembly: first-failing-stage verdicts recompose from the parts") {
    val sf = "/root/testdata/sf0.001"
    val audit = Multimodal.multimodalPairAudit(spark, sf)
      .select("media_id", "verdict").as[(Long, String)].collect().toMap
    val pdup = Multimodal.multimodalNeardup(spark, sf)
      .select("m2").as[Long].collect().toSet
    val cons = Multimodal.multimodalConsistency(spark, sf)
      .select("media_id", "verdict").as[(Long, String)].collect().toMap
    val got = Multimodal.multimodalAssembly(spark, sf)
      .select("media_id", "verdict").as[(Long, String)].collect().toMap
    assert(got.keySet == audit.keySet, "one verdict per media item")
    got.foreach { case (id, v) =>
      val expected =
        if (audit(id) != "kept") audit(id)
        else if (pdup(id)) "perceptual_dup"
        else if (cons.get(id).contains("inconsistent")) "inconsistent"
        else "kept"
      assert(v == expected, s"media $id: $v != $expected")
    }
    assert(got.values.toSet.size > 1, "the fixture exercises more than one stage")
  }

  test("incremental assembly: planted cross-batch arrivals equal the batch gauntlet restricted") {
    import org.apache.spark.sql.functions._
    // standing corpus ids 0..5; arrival batch ids 100..104. Plants:
    //   100 = checksum twin of STANDING 2      -> dup_pair (cross-batch)
    //   101 = 9-of-10 slices shared with 3     -> perceptual_dup (cross-batch)
    //   103 = no embedding                     -> no_embedding
    //   104 = checksum twin of ARRIVAL 100     -> dup_pair (within-batch)
    // 64 slices of 16 tokens — the majority-vote-robust geometry the
    // perceptual near-dup spec proves (63/64 shared frames ⇒ hamming ≤ 3)
    def sliceText(seed: String, n: Int): String =
      (0 until n).flatMap(s => (0 until 16).map(t => s"$seed-$s-$t")).mkString(" ")
    val base = sliceText("a", 64)
    val nearTwin = sliceText("a", 63) + " " +
      (0 until 16).map(t => s"z-63-$t").mkString(" ")
    def uniq(tag: String) = (0 until 120).map(i => s"$tag$i").mkString(" ").take(300)
    val d = docs(
      (0L, uniq("a"), "en", "web"), (1L, uniq("b"), "en", "web"),
      (2L, base, "en", "web"), (3L, base, "en", "web"),
      (4L, uniq("c"), "en", "crawl"), (5L, uniq("d"), "en", "crawl"),
      (100L, base, "en", "web"),
      (101L, nearTwin, "en", "web"),
      (102L, uniq("e"), "en", "crawl"),
      (103L, uniq("f"), "en", "web"),
      (104L, base, "en", "crawl"))
    val rnd = new scala.util.Random(7)
    val emb = d.select("doc_id").as[Long].collect().filter(_ != 103L).sorted
      .map(id => (id, Array.fill(graft.ops.Dedup.EMB_DIM)(rnd.nextFloat()), 0))
      .toSeq.toDF("vec_id", "embedding", "label")
    val isArr = col("doc_id") >= 100L
    val standing = d.filter(!(col("doc_id") >= 100L))
    val inc = Multimodal.assemblyIncremental(d, emb, isArr,
        Multimodal.standingChecksumIdx(standing),
        Multimodal.signatureBands(Multimodal.sliceFrames(standing)),
        Multimodal.standingFeedStats(standing, emb))
      .select("media_id", "verdict").as[(Long, String)].collect().toMap
    // batch twin: full-corpus gauntlet composed from the proven parts,
    // restricted to arrivals
    val audit = Multimodal.pairAudit(d, emb)
      .select("media_id", "verdict").as[(Long, String)].collect().toMap
    val pdup = Multimodal.perceptualNearDup(Multimodal.sliceFrames(d))
      .select("m2").as[Long].collect().toSet
    val cons = Multimodal.consistency(d, emb)
      .select("media_id", "verdict").as[(Long, String)].collect().toMap
    val expected = audit.keySet.filter(_ >= 100L).map { id =>
      id -> (if (audit(id) != "kept") audit(id)
             else if (pdup(id)) "perceptual_dup"
             else if (cons.get(id).contains("inconsistent")) "inconsistent"
             else "kept")
    }.toMap
    assert(inc == expected,
      s"incremental must equal the restricted batch gauntlet: $inc vs $expected")
    assert(inc(100L) == "dup_pair", "cross-batch checksum twin")
    assert(inc(101L) == "perceptual_dup", "cross-batch perceptual twin")
    assert(inc(103L) == "no_embedding")
    assert(inc(104L) == "dup_pair", "within-batch checksum twin")
  }

  test("assembly stream: per-batch flags + drain finish ≡ one-shot incremental under id-ordered batching") {
    import org.apache.spark.sql.functions._
    // same plants as the incremental test, arrivals split into TWO
    // id-ordered micro-batches: {100, 101, 102} then {103, 104} — so
    // 104's dup twin (100) sits in an EARLIER batch and must be caught
    // through the accumulated arrival checksum index, and 101's
    // perceptual twin (3) through the standing band index
    def sliceText(seed: String, n: Int): String =
      (0 until n).flatMap(s => (0 until 16).map(t => s"$seed-$s-$t")).mkString(" ")
    val base = sliceText("a", 64)
    val nearTwin = sliceText("a", 63) + " " +
      (0 until 16).map(t => s"z-63-$t").mkString(" ")
    def uniq(tag: String) = (0 until 120).map(i => s"$tag$i").mkString(" ").take(300)
    val d = docs(
      (0L, uniq("a"), "en", "web"), (1L, uniq("b"), "en", "web"),
      (2L, base, "en", "web"), (3L, base, "en", "web"),
      (4L, uniq("c"), "en", "crawl"), (5L, uniq("d"), "en", "crawl"),
      (100L, base, "en", "web"),
      (101L, nearTwin, "en", "web"),
      (102L, uniq("e"), "en", "crawl"),
      (103L, uniq("f"), "en", "web"),
      (104L, base, "en", "crawl"))
    val rnd = new scala.util.Random(7)
    val emb = d.select("doc_id").as[Long].collect().filter(_ != 103L).sorted
      .map(id => (id, Array.fill(graft.ops.Dedup.EMB_DIM)(rnd.nextFloat()), 0))
      .toSeq.toDF("vec_id", "embedding", "label")
    val standing = d.filter(!(col("doc_id") >= 100L))
    val ck = Multimodal.standingChecksumIdx(standing).localCheckpoint()
    val bi = Multimodal.signatureBands(Multimodal.sliceFrames(standing))
      .localCheckpoint()
    val fs = Multimodal.standingFeedStats(standing, emb).localCheckpoint()
    var seenCk = ck.limit(0).localCheckpoint()
    var seenBands = bi.limit(0).localCheckpoint()
    val flagFrames = Seq(Seq(100L, 101L, 102L), Seq(103L, 104L)).map { ids =>
      val arr = d.filter(col("doc_id").isin(ids: _*)).localCheckpoint()
      val ckAll = ck.unionByName(seenCk)
        .groupBy(col("checksum")).agg(min(col("st_min_id")).as("st_min_id"))
      val flags = Multimodal.gauntletFlags(arr, emb, ckAll,
        bi.unionByName(seenBands)).localCheckpoint()
      seenCk = seenCk.unionByName(
        arr.select(md5(col("text")).as("checksum"), col("doc_id").as("st_min_id"))
          .groupBy(col("checksum")).agg(min(col("st_min_id")).as("st_min_id")))
        .localCheckpoint()
      seenBands = seenBands.unionByName(
        Multimodal.signatureBands(Multimodal.sliceFrames(arr))).localCheckpoint()
      flags
    }
    val streamed = Multimodal.finishAssembly(
        flagFrames.reduce(_ unionByName _), fs)
      .select("media_id", "verdict").as[(Long, String)].collect().toMap
    val oneShot = Multimodal.assemblyIncremental(d, emb, col("doc_id") >= 100L,
        ck, bi, fs)
      .select("media_id", "verdict").as[(Long, String)].collect().toMap
    assert(streamed == oneShot,
      s"streamed flags + drain must equal the one-shot incremental: $streamed vs $oneShot")
    assert(streamed(104L) == "dup_pair", "cross-BATCH checksum twin via the arrival index")
    assert(streamed(101L) == "perceptual_dup")
  }

  test("incremental rejections: planted arrivals equal the batch audit restricted") {
    import org.apache.spark.sql.functions._
    import graft.ops.{Dedup, TextAnalysis => TA}
    // standing ids 0..96 (0 is benchmark: id % 97 == 0); arrivals are the
    // top fifth of the id space: max 484 -> threshold floor(0.8*485)=388,
    // and 388 = 4*97 is an ARRIVING benchmark doc. Plants:
    //   388 bench arrival whose shingles BURN standing doc 5 (the one
    //       retroactive correction the id-ordered split leaves)
    //   390 exact twin of standing 3        -> exact_dup (cross-batch)
    //   391 near-dup of standing 4 (J>=0.5) -> near_dup (cross-batch)
    //   392 shares a shingle with bench 0   -> contaminated
    //   393 two tokens repeated             -> low_quality
    //   394 clean                           -> kept / sampled_out / weak_domain
    //   395 exact twin of arrival 390       -> exact_dup (within-batch)
    def sent(tag: String, n: Int) =
      (0 until n).map(i => s"$tag$i").mkString(" ")
    val burnPhrase = "alpha beta gamma delta epsilon zeta"
    val benchPhrase = "one two three four five six seven"
    val d4 = sent("legit", 12)
    val rows = Seq(
      (0L, benchPhrase + " " + sent("bench", 8), "en", "web"),
      (3L, sent("twin", 14), "en", "web"),
      (4L, d4, "en", "web"),
      (5L, burnPhrase + " " + sent("victim", 10), "en", "crawl"),
      (6L, sent("filler6", 15), "de", "web"),
      (7L, sent("filler7", 15), "de", "crawl"),
      (96L, sent("filler96", 15), "en", "web"),
      (388L, burnPhrase + " " + sent("newbench", 8), "en", "web"),
      (390L, sent("twin", 14), "en", "web"),
      (391L, d4 + " legitx", "en", "web"),
      (392L, benchPhrase + " " + sent("leak", 10), "en", "crawl"),
      (393L, "aa bb aa bb aa bb aa bb aa bb", "en", "web"),
      (394L, sent("fresh", 15), "de", "crawl"),
      (395L, sent("twin", 14), "en", "web"),
      (484L, sent("tail", 15), "en", "web"))
    val d = rows.toDF("doc_id", "text", "lang", "source")
    val t = TA.caThreshold(d)
    assert(t == 388L, s"threshold must land at 388, got $t")
    val standing = d.filter($"doc_id" < t)
    val arrivals = d.filter($"doc_id" >= t)
    val stSets = TA.caShingleSets(standing)
    val (aSets, abench) = TA.arrivalSets(arrivals)
    val inc = TA.rejectionsIncremental(arrivals,
        benchH = TA.caShingleSets(standing.filter($"doc_id" % 97L === 0L))
          .select(explode($"shs").as("h")).distinct(),
        fpIdx = standing.select(Dedup.exactFp($"text").as("fp")).distinct(),
        postings = stSets.select($"doc_id", explode($"shs").as("h")),
        sets = stSets,
        docStats = TA.caDocStats(standing, stSets.localCheckpoint()),
        aSets = aSets, abench = abench)
      .select("doc_id", "reason").as[(Long, String)].collect().toMap
    val batch = TA.corpusRejections(d)
      .select("doc_id", "reason").as[(Long, String)].collect()
      .filter(_._1 >= t).toMap
    assert(inc == batch,
      s"incremental must equal the restricted batch audit: $inc vs $batch")
    assert(inc(388L) == "benchmark")
    assert(inc(390L) == "exact_dup", "cross-batch exact twin")
    assert(inc(391L) == "near_dup", "cross-batch near twin")
    assert(inc(392L) == "contaminated")
    assert(inc(393L) == "low_quality")
    assert(inc(395L) == "exact_dup", "within-batch twin")
    // the retroactive burn: standing doc 5 shares a phrase with the
    // ARRIVING benchmark doc 388, so the batch ground truth excludes it
    // from the gated stats — the incremental path must reach the same
    // weak_domain/rate decisions through its correction probe (proven by
    // the full-map equality above); this assert just pins the plant.
    val full = TA.corpusRejections(d)
      .select("doc_id", "reason").as[(Long, String)].collect().toMap
    assert(full(5L) == "contaminated", "the burn plant must actually burn")
  }

  test("rejections stream: batch flags + drain finish ≡ one-shot, incl. retroactive cross-batch burn") {
    import org.apache.spark.sql.functions._
    import graft.ops.{Dedup, TextAnalysis => TA}
    // the incremental fixture extended with a RETROACTIVE plant: bench
    // arrival 485 (= 5·97) arrives in the SECOND batch and its shingles
    // contaminate arrival 389 from the FIRST batch — the case only the
    // end-of-window contamination can get right. Max id 485 keeps the
    // threshold at floor(0.8·486) = 388.
    def sent(tag: String, n: Int) =
      (0 until n).map(i => s"$tag$i").mkString(" ")
    val burnPhrase = "alpha beta gamma delta epsilon zeta"
    val lateBurn = "omega psi chi phi upsilon tau"
    val benchPhrase = "one two three four five six seven"
    val d4 = sent("legit", 12)
    val rows = Seq(
      (0L, benchPhrase + " " + sent("bench", 8), "en", "web"),
      (3L, sent("twin", 14), "en", "web"),
      (4L, d4, "en", "web"),
      (5L, burnPhrase + " " + sent("victim", 10), "en", "crawl"),
      (6L, sent("filler6", 15), "de", "web"),
      (7L, sent("filler7", 15), "de", "crawl"),
      (96L, sent("filler96", 15), "en", "web"),
      (388L, burnPhrase + " " + sent("newbench", 8), "en", "web"),
      (389L, lateBurn + " " + sent("early", 10), "en", "crawl"),
      (390L, sent("twin", 14), "en", "web"),
      (391L, d4 + " legitx", "en", "web"),
      (392L, benchPhrase + " " + sent("leak", 10), "en", "crawl"),
      (393L, "aa bb aa bb aa bb aa bb aa bb", "en", "web"),
      (394L, sent("fresh", 15), "de", "crawl"),
      (395L, sent("twin", 14), "en", "web"),
      (484L, sent("tail", 15), "en", "web"),
      (485L, lateBurn + " " + sent("latebench", 8), "en", "web"))
    val d = rows.toDF("doc_id", "text", "lang", "source")
    val t = TA.caThreshold(d)
    assert(t == 388L, s"threshold must land at 388, got $t")
    val standing = d.filter($"doc_id" < t)
    val stSets = TA.caShingleSets(standing).localCheckpoint()
    val benchH = TA.caShingleSets(standing.filter($"doc_id" % 97L === 0L))
      .select(explode($"shs").as("h")).distinct().localCheckpoint()
    val fpIdx = standing.select(Dedup.exactFp($"text").as("fp")).distinct()
      .localCheckpoint()
    val postings = stSets.select($"doc_id", explode($"shs").as("h"))
      .localCheckpoint()
    val docStats = TA.caDocStats(standing, stSets.localCheckpoint()).localCheckpoint()
    // id-ordered 2-batch split: 485 (the late bench) is in batch 2,
    // its victim 389 in batch 1; 395 (twin of 390) crosses batches too
    val batches = Seq(Seq(388L, 389L, 390L, 391L), Seq(392L, 393L, 394L, 395L, 484L, 485L))
    var seenFp = fpIdx.limit(0).localCheckpoint()
    var seenPost = postings.limit(0).localCheckpoint()
    var seenSets = stSets.limit(0).localCheckpoint()
    var seenBench = benchH.limit(0).localCheckpoint()
    val isBench = col("doc_id") % 97L === 0L
    val flagFrames = batches.map { ids =>
      val arr = d.filter($"doc_id".isin(ids: _*)).localCheckpoint()
      val aSets = TA.caShingleSets(arr).localCheckpoint()
      val flags = TA.rejStreamFlags(arr, aSets,
        fpIdx.unionByName(seenFp), postings.unionByName(seenPost),
        stSets.unionByName(seenSets)).localCheckpoint()
      seenFp = seenFp.unionByName(
        arr.select(Dedup.exactFp($"text").as("fp")).distinct()).localCheckpoint()
      seenPost = seenPost.unionByName(
        aSets.select($"doc_id", explode($"shs").as("h"))).localCheckpoint()
      seenSets = seenSets.unionByName(aSets).localCheckpoint()
      seenBench = seenBench.unionByName(
        aSets.filter(isBench).select(explode($"shs").as("h")).distinct())
        .localCheckpoint()
      flags
    }
    val streamed = TA.rejStreamFinish(flagFrames.reduce(_ unionByName _),
        seenPost, seenBench.distinct(), benchH, postings, docStats)
      .select("doc_id", "reason").as[(Long, String)].collect().toMap
    val arrivals = d.filter($"doc_id" >= t)
    val (aSets, abench) = TA.arrivalSets(arrivals)
    val oneShot = TA.rejectionsIncremental(arrivals,
        benchH, fpIdx, postings, stSets, docStats, aSets, abench)
      .select("doc_id", "reason").as[(Long, String)].collect().toMap
    assert(streamed == oneShot,
      s"streamed flags + drain must equal the one-shot audit: $streamed vs $oneShot")
    // and both must equal the cold batch audit restricted to arrivals
    val cold = TA.corpusRejections(d)
      .select("doc_id", "reason").as[(Long, String)].collect()
      .filter(_._1 >= t).toMap
    assert(streamed == cold, s"streamed must equal the cold audit: $streamed vs $cold")
    assert(streamed(389L) == "contaminated",
      "batch-1 arrival burned by the batch-2 bench doc — the retroactive case")
    assert(streamed(395L) == "exact_dup", "cross-batch arrival twin")
  }

  test("multimodal: relational meta agrees with the Dataset decoder on real docs") {
    val sf = "/root/testdata/sf0.001"
    val viaDecoder = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(spark, sf))
      .select("media_id", "byte_len", "checksum", "n_frames")
    val viaSql = Multimodal.multimodalMeta(spark, sf)
      .select("media_id", "byte_len", "checksum", "n_frames")
    assert(viaDecoder.exceptAll(viaSql).isEmpty && viaSql.exceptAll(viaDecoder).isEmpty)
  }

  test("multimodal: typed frame sampler matches the relational frames query") {
    val sf = "/root/testdata/sf0.001"
    val viaDecoder = Multimodal.sampleFrames(
        Multimodal.extractFeatures(Multimodal.mediaFromDocuments(spark, sf)))
      .toDF("media_id", "kind", "frame_no", "out_w", "out_h", "frame_fp")
    val viaSql = Multimodal.multimodalFrames(spark, sf)
      .select("media_id", "kind", "frame_no", "out_w", "out_h", "frame_fp")
    assert(viaDecoder.exceptAll(viaSql).isEmpty && viaSql.exceptAll(viaDecoder).isEmpty)
    // stride 2 from 1: only odd frame numbers are sampled
    assert(viaSql.filter($"frame_no" % 2 === 0).isEmpty)
    // resize plan fits the longest side to 224, aspect preserved
    assert(viaSql.filter(!($"out_w" === 224 || $"out_h" === 224)).isEmpty)
    assert(viaSql.filter($"out_w" > 224 || $"out_h" > 224).isEmpty)
  }

  test("sequence packing: two-level prefix sum equals the global cumulative sum") {
    // 200 docs with varying token counts, spanning several 64-doc shards
    val docs = (0 until 200)
      .map(i => (i.toLong, Seq.fill(1 + i % 7)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(docs)
      .select("doc_id", "n_tokens", "start_off", "start_seq", "end_seq")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // offsets are the exact running sum: contiguous, starting at 0
    var expect = 0L
    got.foreach { case (_, n, off, sSeq, eSeq) =>
      assert(off == expect)
      assert(sSeq == off / TextAnalysis.PACK_CAPACITY)
      assert(eSeq == (off + n - 1) / TextAnalysis.PACK_CAPACITY)
      expect += n
    }
  }

  test("decontamination counts distinct shared shingles against the benchmark set") {
    // doc 0 (0 % 97 == 0) is the benchmark; doc 1 repeats one of its
    // 3-grams twice (distinct => counts once), doc 2 shares nothing
    val docs = Seq(
      (0L, "a b c d", "en", "s0"),
      (1L, "a b c x a b c", "en", "s0"),
      (2L, "p q r s t", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.decontam(docs)
      .select("doc_id", "n_contam", "contaminated")
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(!got.contains(0L)) // benchmark docs are not scored
    assert(got(1L) == ((1L, true)))
    assert(got(2L) == ((0L, false)))
  }

  test("decontam scrub redacts exactly the covered span union and fingerprints the rest") {
    // doc 0 is the benchmark ("a b c d" → bench 3-grams "a b c", "b c d").
    // doc 1 quotes "a b c d" mid-document: two OVERLAPPING contaminated
    // 3-grams at i=2,3 cover tokens 2..5 — the union is 4 tokens, not 6.
    // doc 2 shares nothing and must come through untouched.
    // doc 3 is wall-to-wall benchmark text → fully redacted, empty fp.
    val d = Seq(
      (0L, "a b c d", "en", "s0"),
      (1L, "x a b c d y z", "en", "s0"),
      (2L, "p q r s t", "en", "s1"),
      (3L, "a b c d", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.decontamScrub(d)
      .select("doc_id", "n_tokens", "n_contam_ngrams", "n_redacted", "clean_fp")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(t => t._1 -> t).toMap
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(!got.contains(0L), "benchmark docs are not scrubbed, they are the set")
    assert(got(1L) == ((1L, 7L, 2L, 4L, fp("x y z"))),
      "overlapping spans redact their UNION; surrounding text survives")
    assert(got(2L) == ((2L, 5L, 0L, 0L, fp("p q r s t"))))
    assert(got(3L) == ((3L, 4L, 2L, 4L, fp(""))),
      "a fully-contaminated doc redacts everything and fingerprints ''")
  }

  test("repetition scrub keeps the first occurrence and redacts the repeats' union") {
    // doc 1: "a b c" repeats at i=5 (covers tokens 5..7); first stays.
    // doc 2: no repeated 3-gram — untouched.
    // doc 3: "w"×5 → trigram "w w w" at i=1,2,3; repeats at 2,3 cover
    //        tokens 2..5, keeping exactly one token.
    val d = Seq(
      (1L, "x a b c a b c y", "en", "s0"),
      (2L, "p q r s t", "en", "s1"),
      (3L, "w w w w w", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.repetitionScrub(d)
      .select("doc_id", "n_tokens", "n_repeat_ngrams", "n_redacted", "clean_fp")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(t => t._1 -> t).toMap
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == ((1L, 8L, 1L, 3L, fp("x a b c y"))))
    assert(got(2L) == ((2L, 5L, 0L, 0L, fp("p q r s t"))))
    assert(got(3L) == ((3L, 5L, 2L, 4L, fp("w"))),
      "wall-to-wall repetition collapses to the first occurrence's remainder")
  }

  test("domain filter keeps sources at or above the corpus mean quality") {
    // s0: highly repetitive docs (low ttr); s1: all-distinct docs (high ttr)
    val docs = Seq(
      (0L, "w w w w w w w w", "en", "s0"),
      (1L, "w w w w x x x x", "en", "s0"),
      (2L, "alpha beta gamma delta", "en", "s1"),
      (3L, "epsilon zeta eta theta", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.domainFilter(docs)
      .select("source", "n_docs", "total_tokens", "keep")
      .as[(String, Long, Long, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(got("s0")._4 == false && got("s1")._4 == true)
    assert(got("s0")._2 == 2L && got("s0")._3 == 16L)
    assert(got("s1")._3 == 8L)
  }

  test("mix sampling caps over-budget strata at rate 1.0 and drops unknown langs") {
    val docs = (
      (0 until 4).map(i => (i.toLong, (1 to 10).map(j => s"w$j").mkString(" "), "en", "s0")) ++
      Seq((4L, "nur vier kurze worte", "de", "s0"),
          (5L, "lang unknown words here", "xx", "s0")))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.mixSample(docs)
      .as[(String, Long, Long, Double, Long, Long)].collect().map(t => t._1 -> t).toMap
    // only langs with a target share appear in the report
    assert(got.keySet == Set("en", "de"))
    // corpus = 48 tokens (the unknown lang still counts toward the
    // budget base), budget 24; de target 0.3*24 = 7.2 over 4 tokens -> capped
    assert(got("de")._4 == 1.0 && got("de")._5 == 1L && got("de")._6 == 4L)
    // en rate = round(7.2/40, 6) = 0.18, uncapped; sample is a subset
    assert(got("en")._4 == 0.18)
    assert(got("en")._5 <= 4L && got("en")._6 <= 40L)
  }

  test("BPE training learns the classic merges with lexicographic tie-break") {
    // low x3, lower x2, newest x4, widest x1 (Sennrich et al. flavor).
    // Round 0: w|e appears in newest(4) + lower(2) = 6, the max -> "we".
    // Round 1: l|o (low 3 + lower 2 = 5) ties s|t (newest 4 + widest 1);
    // the lexicographically smaller pair wins.
    val docs = Seq(
      (0L, "low low low newest newest", "en", "s0"),
      (1L, "lower lower newest newest widest", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.bpeTrain(docs, rounds = 2)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(got(0) == ((0L, "w|e", "we", 6L)))
    assert(got(1) == ((1L, "l|o", "lo", 5L)))
  }

  test("BPE merges fire only on whole symbols, never inside a merged one") {
    // round 0 learns (w,e), round 1 learns (e,s). "wes" is then encoded
    // (we, s): the (e,s) merge must NOT fire inside it — its 'e' belongs
    // to the symbol "we" — leaving (we, s) as round 2's only pair. A
    // boundary-blind replace would fuse "wes" into one symbol in round 1
    // and round 2 would have nothing to learn.
    val words = Seq.fill(10)("we") ++ Seq.fill(9)("es") ++ Seq("wes")
    val docs = Seq((0L, words.mkString(" "), "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.bpeTrain(docs, rounds = 3)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(got(0) == ((0L, "w|e", "we", 11L)))
    // 9, not 10: "wes" became (we, s) in round 0, so its former (e,s)
    // adjacency no longer exists — only the nine "es" words count
    assert(got(1) == ((1L, "e|s", "es", 9L)))
    assert(got(2) == ((2L, "we|s", "wes", 1L)))
  }

  test("windowed funnel gates each step on order and the max gap") {
    import java.sql.Timestamp
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val ev = Seq(
      // user 1 converts fully within the 6h windows
      (1L, "signup", t(0)), (1L, "view", t(2)), (1L, "purchase", t(5)),
      // user 2: view comes 10h after signup -> stops at stage 1
      (2L, "signup", t(0)), (2L, "view", t(10)), (2L, "purchase", t(11)),
      // user 3: reaches the view (2h after signup) but the purchase
      // PRECEDES it -> no stage 3
      (3L, "signup", t(1)), (3L, "purchase", t(2)), (3L, "view", t(3)))
      .toDF("user_id", "event_type", "ts")
    val got = Relational.funnel(ev)
      .as[(Long, String, Long, Double)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._3)).toSeq == Seq((1L, 3L), (2L, 2L), (3L, 1L)))
    assert(got(2)._4 == 0.333333)
  }

  test("retention counts users per cohort day and offset") {
    import java.sql.Timestamp
    def t(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:30:00")
    val ev = Seq(
      (1L, t(1, 0)), (1L, t(1, 5)), (1L, t(2, 1)), (1L, t(5, 3)),
      (2L, t(2, 2)))
      .toDF("user_id", "ts")
    val got = Relational.retention(ev)
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L), ("2024-01-01", 4L, 1L),
      ("2024-01-02", 0L, 1L)))
  }

  test("event anomaly: a planted spike day flags, constant series yields NULL z") {
    import java.sql.Timestamp
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    // type A: nine 1-event days + one 11-event day -> spike z = 2.85
    val a = (1 to 9).map(d => ("a", t(d))) ++ (1 to 11).map(_ => ("a", t(10)))
    // type B: constant 2 events/day -> sigma 0 -> z NULL, flag NULL
    val b = (1 to 3).flatMap(d => Seq(("b", t(d)), ("b", t(d))))
    // type C: a single day -> excluded (no variance to speak of)
    val ev = (a ++ b ++ Seq(("c", t(1)))).toDF("event_type", "ts")
    val got = Relational.eventAnomaly(ev)
      .as[(String, String, Long, Option[Double], Option[Boolean])].collect()
    val byKey = got.map(r => (r._1, r._2) -> r).toMap
    assert(!got.exists(_._1 == "c"))
    assert(byKey(("a", "2024-01-10"))._5.contains(true))
    assert(byKey(("a", "2024-01-10"))._4.exists(z => math.abs(z - 2.84605) < 1e-4))
    assert(got.filter(_._1 == "a").count(_._5.contains(true)) == 1)
    got.filter(_._1 == "b").foreach { r =>
      assert(r._4.isEmpty && r._5.isEmpty, "constant series must have NULL z/flag")
    }
  }

  test("corpus report: one row with exact planted counts") {
    val d = docs(
      (1L, "alpha beta gamma delta", "en", "s1"),
      (2L, "  ALPHA beta   gamma delta ", "en", "s1"), // exact dup after normalization
      (3L, "contact me at bob@example.com for details", "en", "s2"),
      (4L, "numero de cuenta 123456789 aqui", "es", "s2"),
      (5L, "plain short text", "fr", "s3"))
    val r = TextAnalysis.corpusReport(d).collect().head
    assert(r.getLong(0) == 5L) // n_docs
    assert(r.getLong(1) == 3L) // n_sources
    assert(r.getLong(2) == 3L) // n_langs
    assert(r.getLong(6) == 1L) // exact_dup_groups: docs 1+2
    assert(r.getLong(7) == 1L) // exact_dup_docs: one removable copy
    assert(r.getLong(8) == 2L) // pii_docs: the email and the long number
    assert(r.getDouble(5) > 0 && r.getDouble(5) <= 1) // mean_quality
  }

  test("domain shift: uniform sources have zero KL; a skewed source is positive") {
    val even = docs(
      (1L, "alpha beta gamma", "en", "A"),
      (2L, "alpha beta gamma", "en", "A"),
      (3L, "alpha beta gamma", "en", "B"))
    val m1 = TextAnalysis.domainShift(even)
      .as[(String, Long, Double, Double)].collect().map(t => t._1 -> t).toMap
    // every source matches the corpus distribution exactly: KL = 0 and
    // cross-entropy = corpus entropy = ln 3
    assert(m1("A") == (("A", 6L, 1.098612, 0.0)))
    assert(m1("B") == (("B", 3L, 1.098612, 0.0)))
    val skew = docs(
      (1L, "alpha beta gamma", "en", "A"),
      (2L, "alpha beta gamma", "en", "A"),
      (3L, "alpha alpha alpha", "en", "C"))
    val m2 = TextAnalysis.domainShift(skew)
      .as[(String, Long, Double, Double)].collect().map(t => t._1 -> t).toMap
    assert(m2("C")._4 > m2("A")._4 && m2("A")._4 > 0.0)
    // Gibbs: cross-entropy under the corpus LM is never below the
    // source's own entropy, with equality only at KL = 0
    assert(m2("C")._3 > 0.0 && m2("C")._4 > 0.0)
  }

  test("ppl buckets: terciles partition each language and order by score") {
    val out = TextAnalysis.textPplBuckets(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Double, String)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val byBucket = rows.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")), lang)
      assert(byBucket.values.map(_.size).sum == rows.length, lang)
      // labels must respect the score order: head <= middle <= tail
      for {
        h <- byBucket.get("head"); m <- byBucket.get("middle")
      } assert(h.max <= m.min, s"$lang head/middle overlap")
      for {
        m <- byBucket.get("middle"); t <- byBucket.get("tail")
      } assert(m.max < t.min, s"$lang middle/tail overlap")
    }
  }

  test("lexical entropy: uniform = ln n, constant = 0, skew in between") {
    val d = docs(
      (1L, "a b c d", "en", "s"),     // uniform over 4 types
      (2L, "a a a a", "en", "s"),     // one type: zero entropy
      (3L, "a a a b", "en", "s"))     // skewed
    val got = TextAnalysis.lexicalEntropy(d)
      .select("doc_id", "n_tokens", "n_types", "ttr", "entropy_nats")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 4L, 1.0, math.rint(math.log(4.0) * 1e6) / 1e6)))
    assert(got(2L)._5 == 0.0 && got(2L)._4 == 0.25)
    // H(3/4, 1/4) = ln 4 − (3 ln 3)/4
    val h = math.log(4.0) - 3.0 * math.log(3.0) / 4.0
    assert(math.abs(got(3L)._5 - h) < 1e-6)
    assert(got(3L)._5 > 0.0 && got(3L)._5 < got(1L)._5)
  }

  test("media dedup: planted checksum twins collapse to min id with wasted bytes") {
    val meta = Seq(
      (1L, "aa", 100L), (7L, "aa", 100L), (9L, "aa", 100L), // 3 copies
      (2L, "bb", 40L))
      .toDF("media_id", "checksum", "byte_len")
    val got = Multimodal.mediaDedup(meta)
      .select("checksum", "keep_media_id", "n_copies", "byte_len", "wasted_bytes")
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("aa") == (("aa", 1L, 3L, 100L, 200L)))
    assert(got("bb") == (("bb", 2L, 1L, 40L, 0L)))
  }

  test("cooc pmi: window-2 pair counts and the exact PMI value") {
    // "a b a b a b": 9 forward pairs in window 2 — (a,b)x5, (a,a)x2, (b,b)x2;
    // only (a,b) clears min-count 5. PMI = ln(5 * 6^2 / (9 * 3 * 3))
    val d = docs((1L, "a b a b a b", "en", "s"))
    val got = TextAnalysis.coocPmi(d)
      .select("x", "y", "c_xy", "pmi", "rnk")
      .as[(String, String, Long, Double, Long)].collect()
    assert(got.length == 1)
    val exp = math.rint(math.log(5.0 * 36.0 / 81.0) * 1e6) / 1e6
    assert(got.head == (("a", "b", 5L, exp, 1L)))
  }

  test("dup coverage: shingles shared with another doc count, solo shingles do not") {
    val d = docs(
      (1L, "x y z w", "en", "s"), // shingles: 'x y z' (shared), 'y z w'
      (2L, "x y z q", "en", "s")) // shingles: 'x y z' (shared), 'y z q'
    val got = TextAnalysis.dupCoverage(d)
      .select("doc_id", "n_shingles", "n_dup_shingles", "dup_coverage")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 2L, 1L, 0.5)))
  }

  test("shard assignment: contiguous doc ranges, exact token balance on a uniform corpus") {
    // 16 docs x 10 tokens, 8 shards: every shard takes exactly 2 docs / 20 tokens
    val text = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = docs((1L to 16L).map(i => (i, text, "en", "s")): _*)
    val got = TextAnalysis.shardAssignment(d)
      .select("shard_id", "n_docs", "shard_tokens", "min_doc", "max_doc")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (0L to 7L))
    assert(got.forall(s => s._2 == 2L && s._3 == 20L))
    // contiguity: shard k's range ends before shard k+1's begins
    got.sliding(2).foreach { case Array(a, b) => assert(a._5 < b._4) }
    assert(got.head._4 == 1L && got.last._5 == 16L)
  }

  test("pack manifest: straddling docs split their tokens exactly at sequence cuts") {
    // 100 + 50 + 30 tokens at capacity 128: seq 0 = doc1(100) + doc2(28),
    // seq 1 = doc2(22) + doc3(30)
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = docs((1L, words(100), "en", "s"), (2L, words(50), "en", "s"),
      (3L, words(30), "en", "s"))
    val got = TextAnalysis.packManifest(d)
      .select("seq_id", "n_docs", "n_tokens", "first_doc", "last_doc")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((0L, 2L, 128L, 1L, 2L), (1L, 2L, 52L, 2L, 3L)))
  }

  test("quality train: loss falls every round and the learned model ranks like the pinned one") {
    val clean = (1 to 30).map(i => s"word$i").mkString(" ")          // ttr 1.0, no shorts
    val junk = Seq.fill(15)("a b").mkString(" ")                     // ttr 2/30, all short
    val mid = ((1 to 10).map(i => s"term$i") ++ Seq.fill(10)("ok")).mkString(" ")
    val d = docs((1L, clean, "en", "s"), (2L, junk, "en", "s"), (3L, mid, "en", "s"),
      (4L, clean + " extra", "en", "s"), (5L, junk + " a b", "en", "s"))
    val trail = TextAnalysis.qualityTrain(d)
      .select("round", "w_ttr", "w_short", "w_avglen", "bias", "mse")
      .as[(Long, Double, Double, Double, Double, Double)].collect().sortBy(_._1)
    assert(trail.length == TextAnalysis.QT_ROUNDS)
    // entering mse strictly decreases: GD is actually descending
    trail.sliding(2).foreach { case Array(a, b) => assert(b._6 < a._6) }
    // the learned direction reproduces the pinned classifier's ranking
    val (_, wt, ws, wa, wb, _) = trail.last
    val feats = TextAnalysis.quality(d)
      .select("doc_id", "ttr", "short_ratio", "avg_token_len")
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> (wt * r._2 + ws * r._3 + wa * r._4 + wb)).toMap
    val pinned = TextAnalysis.qualityModel(d)
      .select("doc_id", "model_score").as[(Long, Double)].collect().toMap
    // same pairwise order for the clean-vs-junk pairs the gate separates
    for ((hi, lo) <- Seq((1L, 2L), (4L, 5L), (3L, 2L))) {
      assert(pinned(hi) > pinned(lo))
      assert(feats(hi) > feats(lo),
        s"learned model must rank doc $hi above doc $lo like the pinned classifier")
    }
  }

  test("chunks: overlapping spans clip at the doc end, short docs yield one chunk") {
    def words(a: Int, b: Int) = (a to b).map(i => s"w$i").mkString(" ")
    // 57 tokens -> 3 chunks [0,32) [24,56) [48,57); 10 tokens -> 1 chunk
    val d = docs((1L, words(1, 57), "en", "s"), (2L, words(1, 10), "en", "s"))
    val got = TextAnalysis.chunkSpans(d)
      .select("doc_id", "chunk_id", "start_tok", "end_tok", "chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq == Seq(
      (1L, 0L, 0L, 32L, 32L), (1L, 1L, 24L, 56L, 32L), (1L, 2L, 48L, 57L, 9L),
      (2L, 0L, 0L, 10L, 10L)))
    // the straddling fact: chunk 1 repeats chunk 0's last 8 tokens w25..w32
    assert(got(0)._6.endsWith("w25 w26 w27 w28 w29 w30 w31 w32"))
    assert(got(1)._6.startsWith("w25 w26 w27 w28 w29 w30 w31 w32 w33"))
    // the short tail chunk carries exactly the last 9 tokens
    assert(got(2)._6 == words(49, 57))
    assert(got(3)._6 == words(1, 10))
  }

  test("ngram topk: per-language rank by count with shingle tie-break") {
    val d = docs(
      (1L, "x y z x y z x y z", "en", "s"), // 'x y z'×3, 'y z x'×2, 'z x y'×2
      (2L, "p q r p q r", "fr", "s"))       // 'p q r'×2, the rest ×1
    val got = TextAnalysis.ngramTopk(d)
      .select("lang", "shingle", "cnt", "rnk")
      .as[(String, String, Long, Long)].collect()
    val en = got.filter(_._1 == "en").sortBy(_._4)
    assert(en.head == (("en", "x y z", 3L, 1L)))
    // ties ('y z x'=2, 'z x y'=2) break on shingle ascending
    assert(en(1) == (("en", "y z x", 2L, 2L)))
    assert(en(2) == (("en", "z x y", 2L, 3L)))
    val fr = got.filter(_._1 == "fr").sortBy(_._4)
    assert(fr.head == (("fr", "p q r", 2L, 1L)))
    // top-10 cap: no language reports more than 10 rows
    assert(got.groupBy(_._1).values.forall(_.length <= 10))
  }

  test("bloom decontam is row-identical to exact decontam, and the bloom never misses") {
    // doc_id 0 and 97 are the benchmark (≡ 0 mod DECONTAM_MOD); doc 1
    // copies a benchmark phrase (contaminated), doc 2 shares nothing
    val d = docs(
      (0L, "the quick brown fox jumps over the lazy dog tonight", "en", "s"),
      (97L, "colorless green ideas sleep furiously every single night", "en", "s"),
      (1L, "intro words then the quick brown fox jumps away", "en", "s"),
      (2L, "completely disjoint vocabulary with no shared trigram here", "en", "s"))
    val exact = TextAnalysis.decontam(d)
      .select("doc_id", "n_contam", "contaminated")
      .as[(Long, Long, Boolean)].collect().toSet
    val bloom = TextAnalysis.decontamBloom(d)
      .select("doc_id", "n_contam", "contaminated")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(bloom == exact)
    assert(bloom.exists { case (id, n, c) => id == 1L && n > 0L && c })
    assert(bloom.contains((2L, 0L, false)))
    // degenerate corpus with NO benchmark docs: everything clean
    val noBench = docs((1L, "a b c d e", "en", "s"), (2L, "f g h i j", "en", "s"))
    val clean = TextAnalysis.decontamBloom(noBench)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toSet
    assert(clean == Set((1L, false), (2L, false)))
  }

  test("bloom_agg/bloom_might_contain: zero false negatives, fpp-bounded false positives") {
    import graft.functions.BloomFunctions.{bloomAgg, mightContain, optimalNumBits}
    import org.apache.spark.sql.functions.{col, lit}
    val inserted = (1L to 2000L).toDF("h")
    val nBits = optimalNumBits(2000L, 0.01)
    val bf = inserted
      .agg(bloomAgg(col("h"), 2000L, nBits))
      .head.getAs[Array[Byte]](0)
    def hits(values: org.apache.spark.sql.DataFrame): Long = values
      .filter(mightContain(lit(bf), col("h"))).count()
    // every inserted value must probe true — the invariant the
    // decontam-bloom oracle equivalence rests on
    assert(hits(inserted) == 2000L)
    // false positives stay near the designed rate (1% + generous slack)
    val fp = hits((100001L to 110000L).toDF("h"))
    assert(fp < 500L, s"false positives: $fp / 10000")
  }

  test("split manifest: splits partition the corpus at the hash fractions, repeatably") {
    val d = (0L until 1000L).map(i => (i, s"word a b c doc$i", "en", s"s${i % 2}"))
      .toDF("doc_id", "text", "lang", "source")
    val m = TextAnalysis.splitAssignment(d)
      .select("source", "split", "n_docs", "split_tokens")
      .as[(String, String, Long, Long)].collect()
    // the three splits partition every source's documents exactly
    assert(m.map(_._3).sum == 1000L)
    assert(m.map(_._2).toSet == Set("train", "val", "test"))
    // 5 tokens per doc -> token mass is exactly 5x the doc count
    assert(m.forall(r => r._4 == 5L * r._3))
    // md5 buckets land near the declared fractions (not a rand() carve)
    val train = m.filter(_._2 == "train").map(_._3).sum
    assert(train > 700L && train < 900L, s"train=$train")
    // content-stable: a second run is bit-identical
    val again = TextAnalysis.splitAssignment(d)
      .select("source", "split", "n_docs", "split_tokens")
      .as[(String, String, Long, Long)].collect()
    assert(m.toSet == again.toSet)
  }

  test("split leakage: the doc-level split leaks planted near-dup pairs; the cluster split cannot") {
    val sf = "/root/testdata/sf0.001"
    // the fixture's own near-dup pairs vs the doc-level hash split: the
    // audit must account for every verified pair, and any cross-split
    // cell it reports is exactly the leakage the cluster-safe split closes
    val audit = TextAnalysis.splitLeakageAudit(spark, sf)
      .as[(String, String, Long, Int)].collect()
    val totalPairs = graft.ops.Dedup.dedupNgramJaccard(spark, sf).count()
    assert(audit.map(_._3).sum == totalPairs, "audit must account for every pair")
    assert(audit.forall(r => (r._1 != r._2) == (r._4 == 1)))
    // zero-leak guarantee: re-run the SAME audit against the cluster-rep
    // split rule — no verified pair may straddle, by construction
    import org.apache.spark.sql.functions.{col => c}
    val clusterSplit = spark.read.parquet(s"$sf/documents.parquet")
      .select(c("doc_id"))
      .join(graft.ops.Dedup.dedupClusters(spark, sf).select(c("doc_id"), c("rep_id")),
        Seq("doc_id"))
      .select(c("doc_id"), (TextAnalysis.md5Bucket(c("rep_id")) % 100).as("b"))
    val leakedUnderCluster = graft.ops.Dedup.dedupNgramJaccard(spark, sf)
      .join(clusterSplit.select(c("doc_id").as("d1"), c("b").as("b1")), Seq("d1"))
      .join(clusterSplit.select(c("doc_id").as("d2"), c("b").as("b2")), Seq("d2"))
      .filter(c("b1") =!= c("b2")).count()
    assert(leakedUnderCluster == 0L,
      "a near-dup pair straddled the cluster-safe split — cluster atomicity broken")
    // and the cluster-safe manifest still partitions the corpus exactly
    val m = TextAnalysis.splitClusterSafe(spark, sf)
      .as[(String, String, Long, Long)].collect()
    assert(m.map(_._3).sum == spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("media shards: dedup first, then contiguous byte-budget assignment") {
    // two 3000-byte files (one a checksum twin that must dedup away)
    // and two 1500-byte files; budget 4096 -> offsets 0/3000/4500,
    // shards 0/0/1
    val meta = Seq(
      (1L, "image", 3000L, "aa"), (2L, "image", 3000L, "aa"), // twin of 1
      (3L, "audio", 1500L, "bb"), (4L, "audio", 1500L, "cc"))
      .toDF("media_id", "kind", "byte_len", "checksum")
    val got = Multimodal.mediaShards(meta)
      .select("shard_id", "n_files", "shard_bytes", "min_media", "max_media")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 2L, 4500L, 1L, 3L), (1L, 1L, 1500L, 4L, 4L)))
  }

  test("pack sweep: exact seq counts, straddles, and padding per capacity") {
    // three docs of 40/40/50 tokens -> offsets 0, 40, 80; total 130
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val d = docs(
      (1L, words(40), "en", "s"), (2L, words(40), "en", "s"),
      (3L, words(50), "en", "s"))
    val got = TextAnalysis.packSweep(d)
      .select("capacity", "n_seqs", "n_straddle_docs", "n_crossings", "pad_tokens")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // cap 64: seqs ceil(130/64)=3, doc2 spans [40,79] crossing 64,
    // doc3 spans [80,129] crossing 128 -> 2 straddlers, pad 192-130=62
    assert(got(64L) == ((3L, 2L, 2L, 62L)))
    // cap 128: seqs 2, only doc3 [80,129] crosses 128 -> 1, pad 126
    assert(got(128L) == ((2L, 1L, 1L, 126L)))
    // cap 256: everything fits one sequence, no straddle, pad 126
    assert(got(256L) == ((1L, 0L, 0L, 126L)))
  }

  test("quality budget keeps the best docs until the source token budget is hit") {
    // source s: four 10-token docs with strictly ordered quality (more
    // repetition -> lower ttr -> lower score). Budget 50% of 40 tokens
    // = 20 tokens -> exactly the two best docs survive.
    def doc(distinct: Int): String =
      ((1 to distinct).map(i => s"w$i") ++ Seq.fill(10 - distinct)("w1")).mkString(" ")
    val d = docs(
      (1L, doc(10), "en", "s"), (2L, doc(8), "en", "s"),
      (3L, doc(6), "en", "s"), (4L, doc(4), "en", "s"))
    val got = TextAnalysis.qualityBudget(d)
      .select("source", "n_docs_kept", "tokens_kept", "source_tokens")
      .as[(String, Long, Long, Long)].collect()
    assert(got.toSeq == Seq(("s", 2L, 20L, 40L)))
    // the cutoff is doc 2's score: the worst KEPT quality
    val cutoff = TextAnalysis.qualityBudget(d).select("cutoff_quality")
      .as[Double].head()
    val q2 = TextAnalysis.quality(d).filter($"doc_id" === 2L)
      .select("quality_score").as[Double].head()
    assert(cutoff == q2)
  }

  test("shuffle manifest: a seeded permutation of 0..N-1, stable and non-identity") {
    val d = (0L until 500L).map(i => (i, s"t$i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val pos = TextAnalysis.shuffleManifest(d)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    // exactly a permutation: every position 0..N-1 hit once
    assert(pos.values.toSet == (0L until 500L).toSet)
    // the order is shuffled, not the identity (md5 is not monotone)
    assert(pos.count { case (id, p) => id == p } < 50)
    // reproducible: same seed -> same permutation
    val again = TextAnalysis.shuffleManifest(d)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(pos == again)
  }

  test("curriculum: positions are a permutation, better quality bands strictly first") {
    // high-TTR long docs (band near 0) vs a repetitive short-word doc
    val good = (0L until 20L).map(i =>
      (i, (0 until 12).map(j => s"distinct${i}word$j").mkString(" "), "en", "s"))
    val bad = (20L until 30L).map(i => (i, "a a a a a a a a", "en", "s"))
    val d = (good ++ bad).toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.curriculumManifest(d)
      .select("doc_id", "band", "pos").as[(Long, Long, Long)].collect()
    assert(got.map(_._3).sorted.toSeq == (0L until 30L)) // exact permutation
    val bandOf = got.map(r => r._1 -> r._2).toMap
    val posOf = got.map(r => r._1 -> r._3).toMap
    // every good doc (ttr 1.0, no short tokens -> band 0) precedes every
    // bad doc (ttr 1/8 of all-short tokens -> last band)
    assert(good.forall { case (id, _, _, _) => bandOf(id) == 0L })
    assert(bad.forall { case (id, _, _, _) => bandOf(id) == 9L })
    val maxGood = good.map(g => posOf(g._1)).max
    val minBad = bad.map(b => posOf(b._1)).min
    assert(maxGood < minBad)
    // within a band the order is the seeded hash shuffle, not doc_id
    val goodByPos = good.map(g => g._1 -> posOf(g._1)).sortBy(_._2).map(_._1)
    assert(goodByPos != goodByPos.sorted)
  }

  test("decay value: exact half-life weights; recent activity outranks bigger old totals") {
    import java.sql.Timestamp
    def ev(id: Long, day: String, user: Long, v: Double) =
      (id, Timestamp.valueOf(s"$day 09:00:00"), user, "t", v, "{}")
    // as-of 2024-01-30: user 1 = 1.0 at age 0 + 1.0 at age 7 -> 1.5 decayed
    // user 2 = 2.5 all at age 28 (weight 1/16) -> 0.15625 decayed, bigger raw
    val d = Seq(
      ev(1, "2024-01-30", 1L, 1.0), ev(2, "2024-01-23", 1L, 1.0),
      ev(3, "2024-01-02", 2L, 2.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Relational.decayValue(d)
      .select("user_id", "n_events", "raw_value", "decayed_value")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 2.0, 1.5)))
    assert(got(2L) == ((2L, 1L, 2.5, 0.1563)))
    assert(got(1L)._4 > got(2L)._4 && got(1L)._3 < got(2L)._3,
      "decay must invert the raw ordering for stale users")
  }

  test("decay value: ages beyond the weight table clamp to 0, future events to weight 1") {
    import java.sql.Timestamp
    val tbl = graft.ops.Relational.DECAY_W_MICROS
    assert(tbl.head == 1000000L && tbl.last == 0L,
      "the weight table must span full weight down to an explicit 0 entry")
    def ev(id: Long, day: String, user: Long, v: Double) =
      (id, Timestamp.valueOf(s"$day 09:00:00"), user, "t", v, "{}")
    // user 1: one event ~2 years before as-of (age 760 >> table) -> decays to 0
    // user 2: one event dated AFTER as-of (age -5) -> clamps to weight 1
    val d = Seq(
      ev(1, "2022-01-01", 1L, 3.0), ev(2, "2024-02-04", 2L, 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Relational.decayValue(d)
      .select("user_id", "raw_value", "decayed_value")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3.0, 0.0)), "beyond-table age must hit the 0 entry")
    assert(got(2L) == ((2L, 3.0, 3.0)), "future-dated events must clamp to age 0")
  }

  test("z-order layout: the day dimension buckets mod 2^Z_BITS explicitly (no silent alias)") {
    import java.sql.Timestamp
    val m = 1 << graft.ops.Relational.Z_BITS
    // one event per day over 40 days (> 2^Z_BITS) for one user: days d and
    // d+32 MUST share a shard — stated residue bucketing, not truncation
    val ev = (0 until 40).map { d =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong)
      (d.toLong, Timestamp.valueOf(s"$day 09:00:00"), 7L, "t", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Relational.zorderLayout(ev)
      .select("shard", "n_events").as[(Long, Long)].collect().toMap
    // sequential reference of the STATED semantics: both dimensions
    // reduce mod 2^Z_BITS before interleaving, so day d and d+32 share
    // a shard by definition rather than by silent bit truncation
    def zkey(u: Long, d: Long): Long =
      (0 until graft.ops.Relational.Z_BITS).foldLeft(0L) { (z, i) =>
        z | (((u >> i) & 1L) << (2 * i + 1)) | (((d >> i) & 1L) << (2 * i))
      }
    val expected = (0 until 40)
      .map(d => zkey(7L % m, d.toLong % m) >> graft.ops.Relational.Z_SHARD_SHIFT)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == expected)
    assert(got.values.sum == 40L)
  }

  test("column stats: exact ndv/min/max, equi-width bins, constant column takes one bin") {
    import java.sql.Timestamp
    // value 0..9 over one day (day constant -> the guarded single-bin branch)
    val ev = (0 until 10).map(i =>
      (i.toLong, Timestamp.valueOf("2024-01-05 09:00:00"), i.toLong % 3,
        "t", i.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Relational.columnStats(ev)
      .select("col_name", "bin", "n", "ndv", "vmin", "vmax", "bin_count")
      .as[(String, Long, Long, Long, Double, Double, Long)].collect()
    val byCol = got.groupBy(_._1)
    val v = byCol("value").sortBy(_._2)
    assert(v.map(_._2).toSeq == (0L to 9L), "value 0..9 fills every equi-width bin")
    assert(v.forall(r => r._3 == 10L && r._4 == 10L && r._5 == 0.0 && r._6 == 9.0 && r._7 == 1L))
    val d = byCol("day")
    assert(d.length == 1 && d.head._2 == 0L && d.head._7 == 10L,
      "a constant column lands wholly in bin 0, not in NaN")
    assert(byCol("user_id").map(_._7).sum == 10L &&
      byCol("user_id").head._4 == 3L)
  }

  test("scd2: consecutive same-state days collapse; a revisited state opens a NEW interval") {
    import java.sql.Timestamp
    def ts(day: Int, h: Int) = Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    // user 1: A A B A  -> [A 1-2] [B 3-3] [A 4-4] (A twice, never merged)
    // day 2 has two events; the LATER one (B at 09:00 < A at 17:00) loses
    val ev = Seq(
      (1L, ts(1, 9), 1L, "A", 0.0, "{}"),
      (2L, ts(2, 9), 1L, "B", 0.0, "{}"),
      (3L, ts(2, 17), 1L, "A", 0.0, "{}"),
      (4L, ts(3, 9), 1L, "B", 0.0, "{}"),
      (5L, ts(4, 9), 1L, "A", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Relational.userStateScd2(ev)
      .select("user_id", "state", "valid_from", "valid_to", "n_days")
      .as[(Long, String, String, String, Long)].collect()
      .sortBy(_._3)
    assert(got.toSeq == Seq(
      (1L, "A", "2024-01-01", "2024-01-02", 2L),
      (1L, "B", "2024-01-03", "2024-01-03", 1L),
      (1L, "A", "2024-01-04", "2024-01-04", 1L)))
  }

  test("backoff: in-LM bigrams score exact, novel pairs back off, OOV hits the floor") {
    // target LM slice = en high-quality docs: "x1 .. x11" twice
    val lmText = (0 until 12).map(i => s"word$i").mkString(" ")
    val d = docs(
      (0L, lmText, "en", "s"), (1L, lmText, "en", "s"),
      (2L, "word0 word1 word2 word3", "de", "s"), // all bigrams in the LM
      (3L, "word3 word1 word5 word2", "de", "s"), // seen words, unseen pairs -> backoff
      (4L, "zzz word0 qqq word1", "de", "s"))     // zzz/qqq unseen -> OOV floor
    val got = TextAnalysis.backoffLogprob(d)
      .select("doc_id", "n_bigrams", "n_backoff", "n_oov", "avg_neg_logprob")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(2L)._3 == 0 && got(2L)._4 == 0, "doc 2 never backs off")
    assert(got(3L)._3 == 3 && got(3L)._4 == 0, "doc 3 backs off on every pair, no OOV")
    // doc 4: pairs (zz,x0) backoff+cur seen, (x0,qq) OOV, (qq,x1) backoff
    assert(got(4L)._3 == 3 && got(4L)._4 == 1)
    assert(got(2L)._5 < got(3L)._5 && got(3L)._5 < got(4L)._5,
      "scores order by distance from the target LM")
  }

  test("dsir: on-target vocabulary outscores off-target regardless of the doc's own lang") {
    // target = high-quality en docs, which here all use vocabulary A;
    // the probe pair are both de (so neither is IN the target set) —
    // the one WRITTEN in vocabulary A must outscore the vocabulary-B one
    val vocabA = (0 until 12).map(i => s"alphaword$i").mkString(" ")
    val vocabB = (0 until 12).map(i => s"betaword$i").mkString(" ")
    val d = docs(
      (0L, vocabA, "en", "s"), (1L, vocabA, "en", "s"), (2L, vocabA, "en", "s"),
      (3L, vocabB, "de", "s"), (4L, vocabB, "de", "s"),
      (5L, vocabA, "de", "s"),  // on-target text, off-target lang
      (6L, vocabB, "de", "s"))
    val got = TextAnalysis.dsirScores(d)
      .select("doc_id", "dsir_score").as[(Long, Double)].collect().toMap
    assert(got(5L) > got(6L), s"on-target vocab must win: $got")
    assert(got(0L) == got(5L), "score depends only on the text's buckets")
    // deterministic rerun
    val again = TextAnalysis.dsirScores(d)
      .select("doc_id", "dsir_score").as[(Long, Double)].collect().toMap
    assert(got == again)
  }

  test("mix temperature: flattens shares toward uniform, factors cross 1 by size") {
    val big = (0L until 18L).map(i => (i, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "en", "srcbig"))
    val small = (18L until 20L).map(i => (i, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "en", "srcsmall"))
    val got = TextAnalysis.mixTemperature((big ++ small).toDF("doc_id", "text", "lang", "source"),
        TextAnalysis.MIX_TEMPERATURE)
      .select("source", "raw_share", "temp_share", "sample_factor")
      .as[(String, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    val (_, rawB, tempB, facB) = got("srcbig")
    val (_, rawS, tempS, facS) = got("srcsmall")
    assert(rawB == 0.9 && rawS == 0.1)
    assert(tempB < rawB && tempS > rawS, "temperature must flatten toward uniform")
    assert(facS > 1.0 && facB < 1.0, "small source upsamples, large downsamples")
    assert(math.abs(tempB + tempS - 1.0) < 1e-5, "temp shares renormalize")
  }

  test("blocklist: multiplicity counted per doc, clean slice reports zero rate") {
    val d = docs(
      (0L, "slow query slow scan", "en", "s0"), // 2 hits
      (1L, "dup row appears", "en", "s0"),      // 1 hit
      (2L, "clean fast text", "en", "s0"),
      (3L, "all clean here", "de", "s1"))
    val got = TextAnalysis.blocklistStats(d)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got(("en", "s0")) == (("en", "s0", 3L, 2L, 3L, 0.666667)))
    assert(got(("de", "s1")) == (("de", "s1", 1L, 0L, 0L, 0.0)))
  }

  test("decontam report: leaked bench item counts its leaks, clean item reports zeros") {
    // bench ids are ≡ 0 mod 97: doc 0 leaks into 1 and 2; doc 97 is clean
    val d = docs(
      (0L, "the quick brown fox jumps", "en", "bench"),
      (97L, "totally unique benchmark item here", "en", "bench"),
      (1L, "the quick brown fox jumps high", "en", "web"), // 3 shared shingles
      (2L, "prefix words the quick brown fox", "en", "web"), // 2 shared
      (3L, "nothing in common at all", "en", "web"))
    val got = TextAnalysis.decontamReport(d)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(0L, 97L))
    assert(got(0L) == ((0L, 2L, 3L, 5L))) // 2 leaky docs, max 3, 3+2 hits
    assert(got(97L) == ((97L, 0L, 0L, 0L)))
  }

  test("bm25: heavy term overlap outranks light overlap; disjoint docs never retrieved") {
    val d = docs(
      (0L, "alpha beta gamma", "en", "s"),        // the query doc
      (1L, "alpha beta gamma delta", "en", "s"),  // shares 3 terms
      (2L, "alpha epsilon zeta eta", "en", "s"),  // shares 1 term
      (3L, "theta iota kappa lambda", "en", "s")) // shares none
    val got = TextAnalysis.bm25TopK(d, nQueries = 1, k = 5,
        TextAnalysis.termFreqs(d).localCheckpoint())
      .select("doc_id", "n_terms", "bm25", "rnk")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(got.map(_._1).toSeq == Seq(1L, 2L)) // doc 3 absent: no shared terms
    assert(got(0)._2 == 3L && got(1)._2 == 1L)
    assert(got(0)._3 > got(1)._3)
  }

  test("bm25 length normalization: same tf scores lower in a longer document") {
    val filler = (0 until 20).map(i => s"w$i").mkString(" ")
    val d = docs(
      (0L, "alpha", "en", "s"),
      (1L, "alpha beta", "en", "s"),
      (2L, s"alpha $filler", "en", "s"))
    val got = TextAnalysis.bm25TopK(d, nQueries = 1, k = 5,
        TextAnalysis.termFreqs(d).localCheckpoint())
      .select("doc_id", "bm25").as[(Long, Double)].collect().toMap
    assert(got(1L) > got(2L)) // tf=1 for 'alpha' in both; |d| differs
  }

  test("corpus rejections: every stage names its casualties, kept count matches assembly") {
    // one doc per fate, in pipeline order; de fillers give the mixture a
    // real corpus so the en rate caps at 1 (kept deterministic)
    val enA = "alpha bravo charlie delta echo"
    val twelve = "one1 two2 three3 four4 five5 six6 seven7 eight8 nine9 ten10 eleven11 last12"
    val fixture = Seq(
      (0L, "king queen rook bishop knight pawn", "en", "s"),       // benchmark (0 % 97)
      (1L, "castle tower moat king queen rook garden stone", "en", "s"), // contaminated
      (2L, enA, "en", "s"),                                        // kept (exact keeper)
      (3L, enA, "en", "s"),                                        // exact_dup
      (4L, twelve, "en", "s"),                                     // kept
      (5L, twelve.replace("last12", "other12"), "en", "s"),        // near_dup (J=9/11)
      (6L, "aa aa aa aa", "en", "s"),                              // low_quality (score 0)
      (7L, "aa bb cup dog elm fox gnu cup", "en", "w"),            // weak_domain (q=.656)
      (8L, "zebra quark lumen pixel", "xx", "s")                   // no_mix_share
    ) ++ (9L to 16L).map(i =>
      (i, (1 to 12).map(j => s"wde${i}x$j").mkString(" "), "de", "s"))
    val d = fixture.toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.corpusRejections(d)
      .select("doc_id", "reason").as[(Long, String)].collect().toMap
    assert(got(0L) == "benchmark")
    assert(got(1L) == "contaminated")
    assert(got(2L) == "kept")
    assert(got(3L) == "exact_dup")
    assert(got(4L) == "kept")
    assert(got(5L) == "near_dup")
    assert(got(6L) == "low_quality")
    assert(got(7L) == "weak_domain")
    assert(got(8L) == "no_mix_share")
    (9L to 16L).foreach(i =>
      assert(Set("kept", "sampled_out")(got(i)), s"de filler $i draws the mix gate"))
    assert(got.size == fixture.size, "one verdict per input document")
    // the audit must agree with the assembly it explains
    val keptTotal = TextAnalysis.corpusAssembly(d)
      .filter(org.apache.spark.sql.functions.col("lang") === "TOTAL")
      .select("kept_docs").as[Long].collect().head
    assert(got.values.count(_ == "kept").toLong == keptTotal,
      "kept verdicts == assembly TOTAL kept_docs")
  }

  test("incremental pack: append equals re-packing the arrival-ordered stream; tail flag exact") {
    // prior (even ids): 130 tokens total -> last sequence holds 2 tokens, open
    val prior = Seq(
      (0L, (1 to 60).map(i => s"p0w$i").mkString(" ")),   // 60 tokens
      (2L, (1 to 68).map(i => s"p2w$i").mkString(" ")),   // 68
      (4L, "tail one"))                                   // 2 -> total 130
    // arriving (odd ids): first doc starts at 130 inside open seq 1;
    // second crosses into fresh sequences
    val arriving = Seq(
      (1L, (1 to 10).map(i => s"a1w$i").mkString(" ")),   // 130..139, seq 1
      (3L, (1 to 200).map(i => s"a3w$i").mkString(" ")),  // 140..339, seqs 1..2
      (5L, "after the cut"))                              // 340..342, seq 2
    val d = (prior ++ arriving).map { case (i, t) => (i, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.packIncremental(d)
      .select("doc_id", "n_tokens", "start_off", "start_seq", "end_seq",
        "straddles", "in_prior_tail")
      .as[(Long, Long, Long, Long, Long, Boolean, Boolean)]
      .collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 5L))
    assert(got(0) == ((1L, 10L, 130L, 1L, 1L, false, true)),
      "first arrival fills the standing corpus's open sequence")
    assert(got(1) == ((3L, 200L, 140L, 1L, 2L, true, true)))
    assert(got(2) == ((5L, 3L, 340L, 2L, 2L, false, false)),
      "past the tail boundary the flag clears")
    // append ≡ re-pack: re-id arrivals after the standing corpus and the
    // combined concat-and-chunk reproduces the same slots
    val reIdd = (prior ++ arriving.map { case (i, t) => (100L + i, t) })
      .map { case (i, t) => (i, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
    val repacked = TextAnalysis.packSequences(reIdd)
      .filter($"doc_id" >= 100L)
      .select("doc_id", "n_tokens", "start_off", "start_seq", "end_seq", "straddles")
      .as[(Long, Long, Long, Long, Long, Boolean)]
      .collect().sortBy(_._1).map(r => (r._1 - 100L, r._2, r._3, r._4, r._5, r._6))
    assert(repacked.toSeq == got.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)).toSeq)
  }

  test("assembly entry points share one memoized stage-flags frame per (session, dir)") {
    val dir = "/root/testdata/sf0.001"
    // repeated calls reuse the memo — the REPORTS differ per entry point,
    // so pin the shared producer by value: assembly/filter/rejections all
    // equal an unshared end-to-end recomputation on the same documents
    val d = graft.pipeline.Tables.documents(spark, dir)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(dump(TextAnalysis.textCorpusRejections(spark, dir)) ==
      dump(TextAnalysis.corpusRejections(d)))
    assert(dump(TextAnalysis.textCorpusAssembly(spark, dir)) ==
      dump(TextAnalysis.corpusAssembly(d)))
    assert(dump(TextAnalysis.textCorpusFilter(spark, dir)) ==
      dump(TextAnalysis.corpusFilter(d)))
  }

  test("fertility: merge-friendly language costs fewer tokens per word") {
    // 'the' fully merges (t·h → th, th·e → the) → 1 token/word;
    // 'zq' has no merge rule → 2 tokens/word
    val d = docs(
      (0L, "the the the", "en", "s"),
      (1L, "zq zq zq", "xx", "s"))
    val got = TextAnalysis.tokenizerFertility(d)
      .select("lang", "n_words", "bpe_tokens", "fertility", "chars_per_token")
      .as[(String, Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("en") == (("en", 3L, 3L, 1.0, 3.666667)))
    assert(got("xx") == (("xx", 3L, 6L, 2.0, 1.333333)))
  }

  test("pair audit: each pair gets its first failing gate, canonical mirror keeps its slot") {
    // widths derive from strlen % 640 + 1, so text length picks the gate
    val longCaption = ("w " * 320).trim                  // 639 chars -> width 640: big image, 320 words
    val shortCaption = "a b"                             // 3 chars  -> width 4: tiny first
    val tinyButLong = ("x " * 320).trim + " yyyyyyyyyy"  // 650 chars -> width 11: tiny, many words
    val d = Seq(
      (0L, longCaption, "en", "s"),    // kept
      (2L, longCaption, "en", "s"),    // dup of 0 -> dup_pair
      (4L, shortCaption, "en", "s"),   // width 4 -> tiny_image (before short_caption)
      (6L, tinyButLong, "en", "s"),    // tiny_image despite long caption
      (8L, longCaption + " z", "en", "s")) // no embedding row -> no_embedding
      .toDF("doc_id", "text", "lang", "source")
    val e = Seq((0L, Array(1.0f), 0), (2L, Array(1.0f), 0),
      (4L, Array(1.0f), 0), (6L, Array(1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Multimodal.pairAudit(d, e)
      .select("media_id", "verdict").as[(Long, String)].collect().toMap
    assert(got == Map(0L -> "kept", 2L -> "dup_pair", 4L -> "tiny_image",
      6L -> "tiny_image", 8L -> "no_embedding"))
  }

  test("last-touch attribution credits the latest preceding touch, organic when none") {
    import java.sql.Timestamp
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val ev = Seq(
      // user 1: view then click -> both purchases credit the click (the
      // LATEST touch), including the second purchase with no touch between
      (1L, 1L, "view", t(0), 1.00), (1L, 2L, "click", t(1), 2.00),
      (1L, 3L, "purchase", t(2), 10.00), (1L, 4L, "purchase", t(3), 5.00),
      // user 2: purchase before any touch -> organic; after signup -> signup
      (2L, 5L, "purchase", t(0), 7.00), (2L, 6L, "signup", t(1), 0.00),
      (2L, 7L, "purchase", t(2), 3.00),
      // user 3: an error between click and purchase must not steal credit
      (3L, 8L, "click", t(0), 0.00), (3L, 9L, "error", t(1), 0.00),
      (3L, 10L, "purchase", t(2), 2.00))
      .toDF("user_id", "event_id", "event_type", "ts", "value")
    val got = graft.ops.Relational.attribution(ev)
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("click", 3L, 1700L),
      ("signup", 1L, 300L),
      ("none", 1L, 700L)))
  }

  test("session day split: midnight crossing credits exact overlap; zero-overlap boundary day excluded") {
    import java.sql.Timestamp
    val ev = Seq(
      // user 1: one session 23:50 -> 00:00:00 next day (gap < 30 min):
      // 10 min on Jan 1, ZERO µs on Jan 2 -> Jan 2 must NOT count it
      (1L, 1L, Timestamp.valueOf("2024-01-01 23:50:00")),
      (2L, 1L, Timestamp.valueOf("2024-01-02 00:00:00")),
      // user 2: one session genuinely crossing: 23:55 -> 00:10 next day
      (3L, 2L, Timestamp.valueOf("2024-01-02 23:55:00")),
      (4L, 2L, Timestamp.valueOf("2024-01-03 00:10:00")),
      // user 3: a single-event (zero-duration) session counts on its day
      (5L, 3L, Timestamp.valueOf("2024-01-04 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    val got = graft.ops.Relational.sessionDaySplitFrom(ev)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(
      "2024-01-01" -> (1L, 600000000L),   // 10 min
      "2024-01-02" -> (1L, 300000000L),   // only user 2's 5 min; user 1's 0-µs tail excluded
      "2024-01-03" -> (1L, 600000000L),   // user 2's 10 min after midnight
      "2024-01-04" -> (1L, 0L)))          // zero-duration session still counts
  }

  test("incremental rollup merge equals the cold recompute; the cut day really splits") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val merged = graft.ops.Relational.aggIncremental(spark, sf)
      .as[(Long, String, Long, Long)].collect().toSet
    val full = graft.pipeline.Tables.events(spark, sf)
      .select((col("event_id") % 2).as("chain"),
        to_date(col("ts")).cast("string").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("chain"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("tc"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(merged == full)
    // the mid-day watermark puts the cut day in BOTH halves, so the final
    // aggregation genuinely combines two partials for one key — a
    // midnight cut would silently degrade the merge to a disjoint union
    val wmDay = graft.ops.Relational.MERGE_WM.take(10)
    def daysOf(df: org.apache.spark.sql.DataFrame) =
      df.select(to_date(col("ts")).cast("string").as("d")).distinct()
        .as[String].collect().toSet
    assert(daysOf(graft.pipeline.Tables.eventsUntil(spark, sf,
      graft.ops.Relational.MERGE_WM)).contains(wmDay))
    assert(daysOf(graft.pipeline.Tables.eventsSince(spark, sf,
      graft.ops.Relational.MERGE_WM)).contains(wmDay))
  }

  test("perceptual near-dup: mirrors at hamming 0, trimmed clip near, disjoint clip absent") {
    import graft.ops.Multimodal
    // 64 slices of 16 tokens each; media 1 = byte-identical mirror of 0
    // (whitespace noise only), media 2 = same clip with the LAST slice
    // replaced (63/64 frames shared — one frame out of many is the
    // regime the majority vote is robust to; the hamming ≤ 3 radius
    // means ~90%+ frame overlap, see Multimodal.PFP_BAND_BITS),
    // media 3 = fully different content
    def sliceText(seed: String, n: Int): String =
      (0 until n).flatMap(s => (0 until 16).map(t => s"$seed-$s-$t")).mkString(" ")
    val docs = Seq(
      (0L, sliceText("a", 64)),
      (1L, "  " + sliceText("a", 64).replace(" ", "   ") + " "),
      (2L, sliceText("a", 63) + " " + (0 until 16).map(t => s"z-63-$t").mkString(" ")),
      (3L, sliceText("q", 64))).toDF("doc_id", "text")
    val got = Multimodal.perceptualNearDup(Multimodal.sliceFrames(docs))
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((0L, 1L)) == 0L, "normalized mirrors must land at hamming 0")
    assert(got.contains((0L, 2L)) && got((0L, 2L)) <= Multimodal.PFP_MAX_HAMMING,
      "a clip sharing 63/64 slices must surface as a near-dup")
    assert(got((0L, 2L)) > 0L, "a trimmed clip is near, not identical")
    assert(!got.contains((0L, 3L)) && !got.contains((1L, 3L)) && !got.contains((2L, 3L)),
      "disjoint content must not pair")
  }

  test("perceptual rung-1 geometry (2x28 + radius-1 probe) returns the exact rung-0 pair set") {
    val d = graft.pipeline.Tables.documents(spark, "/root/testdata/sf0.001")
    val sigs = Multimodal.perceptualSignatures(Multimodal.sliceFrames(d))
      .localCheckpoint()
    def pairsAt(blocks: Int, radius: Int) =
      graft.ops.Dedup.bandedHammingPairs(sigs, "media_id", "pfp",
          Multimodal.PFP_BITS, Multimodal.PFP_MAX_HAMMING, blocks, radius, ("m1", "m2"))
        .as[(Long, Long, Long)].collect().toSet
    val rung0 = pairsAt(Multimodal.PFP_BANDS, 0)
    val rung1 = pairsAt(Multimodal.PFP_BANDS / 2, 1)
    assert(rung0.nonEmpty, "fixture must contain at least one perceptual near-dup pair")
    assert(rung1 == rung0,
      s"rung-1 must be candidate-complete: missing=${(rung0 -- rung1).take(5)} " +
        s"extra=${(rung1 -- rung0).take(5)}")
    // rung 2 (round 14): the partition-grouped cogroup kernel at the same
    // 2x28 radius-1 geometry — bit-identical pair set, like every rung
    val rung2 = graft.ops.Dedup.mihPairsRung2(sigs, "media_id", "pfp",
        Multimodal.PFP_BITS, Multimodal.PFP_MAX_HAMMING, ("m1", "m2"))
      .as[(Long, Long, Long)].collect().toSet
    assert(rung2 == rung0,
      s"rung-2 must be candidate-complete: missing=${(rung0 -- rung2).take(5)} " +
        s"extra=${(rung2 -- rung0).take(5)}")
  }

  test("dispatch pins at the measured box budgets sit inside the measured brackets") {
    import graft.ops.{Dedup, Resources}
    // the pins are pure in their budgets; at this box's measured budgets
    // (13.4 GB payload, 78 GB scratch) every pin must stay inside the
    // bracket its round-12/13 measurement established
    val (payload, scratch) = (Resources.PAYLOAD_BUDGET_BOX, Resources.SCRATCH_BUDGET_BOX)
    val g = Dedup.jaccardGroupedN(payload)
    assert(g >= 150000L && g <= 300000L,
      s"grouped-verify pin $g outside the measured (150k, 300k) crack bracket")
    assert(graft.ops.Resources.ballSize(6, 3) == 42L,  // the MIH probe fan-out
      "hamming-ball size: 1 + C(6,1) + C(6,2) + C(6,3)")
    assert(graft.ops.Resources.ballSize(14, 1) == 15L)
    assert(graft.ops.Resources.ballSize(28, 0) == 1L)
    val s1 = Dedup.simhashRung1N(payload, scratch)
    assert(s1 >= 32768L && s1 <= 131072L, s"simhash rung-1 pin $s1 out of bracket")
    val s2 = Dedup.simhashRung2N(scratch)
    assert(s2 > 500000L && s2 < 1500000L,
      s"simhash rung-2 pin $s2 must sit inside the measured (500k, 1.5M) crack bracket")
    val p1 = Multimodal.pfpRung1N(payload, scratch)
    assert(p1 >= 500000L && p1 <= 3000000L, s"pfp rung-1 pin $p1 out of bracket")
    // (no pfp rung-2 pin: past pfpRung1N the cogroup kernel is measured
    // dominant at every scale — see perceptualNearDup's ladder note)
    // the pins MOVE with the fleet's budgets: a small-executor deployment
    // flips to the survivable kernels earlier
    assert(Dedup.jaccardGroupedN(payload / 10) == 20000L)
    assert(Dedup.simhashRung2N(scratch / 10) < s2 / 3 + 1,
      "scratch/10 must pull the rung-2 pin in by ~sqrt(10)")
    assert(Multimodal.pfpRung1N(payload / 10, scratch / 10) < p1 / 3 + 1)
    // adversarial big-memory/small-disk fleet: the ladder ordering must
    // NOT invert (rung 0 is the most scratch-hungry plan — its own
    // scratch ceiling, not the payload knee, must bound it)
    val (bigMem, smallDisk) = (2000000000000L, 100000000000L)
    assert(Dedup.simhashRung1N(bigMem, smallDisk) <= Dedup.simhashRung2N(smallDisk),
      s"rung ladder inverted: ${Dedup.simhashRung1N(bigMem, smallDisk)} > " +
        s"${Dedup.simhashRung2N(smallDisk)}")
    assert(Dedup.simhashRung1N(bigMem, smallDisk) < 300000L,
      "rung 0 must leave before its candidate mass spills a 100 GB scratch")
    // degenerate budget (round-15 advice): below ~35 MB of scratch the
    // rung-1 ceiling's LINEAR term binds and the raw formulas would
    // invert — the pin's clamp must keep the ladder ordered even here
    // (rung 0 hands off at the rung-2 boundary, never after it)
    val tinyDisk = 10000000L // 10 MB
    assert(Dedup.simhashRung1N(bigMem, tinyDisk) <= Dedup.simhashRung2N(tinyDisk),
      s"degenerate-scratch ladder inverted: ${Dedup.simhashRung1N(bigMem, tinyDisk)} > " +
        s"${Dedup.simhashRung2N(tinyDisk)}")
  }

  test("derived budget defaults follow the live heap and the scratch dirs' free space") {
    import graft.ops.Resources
    val heap = Runtime.getRuntime.maxMemory
    assume(heap > 0 && heap < Long.MaxValue, "JVM reports no max heap")
    assert(Resources.derivedPayloadDefault == heap + Resources.CACHE_HEADROOM_BYTES)
    // the scratch default is the dirs' usable space, the box figure when they report none
    assert(Resources.scratchDefault(0L) == Resources.SCRATCH_BUDGET_BOX)
    assert(Resources.scratchDefault(1L) == 1L)
    assert(Resources.scratchDefault(5_000_000_000_000L) == 5_000_000_000_000L)
    // a deployment's configured budgets replace the derived defaults
    assert(Resources.payloadBudget(spark) == Resources.derivedPayloadDefault)
    try {
      spark.conf.set("spark.graft.payloadBudgetBytes", "1340000000")
      spark.conf.set("spark.graft.scratchBudgetBytes", "7800000000")
      assert(Resources.payloadBudget(spark) == 1340000000L)
      assert(Resources.scratchBudget(spark) == 7800000000L)
    } finally {
      spark.conf.unset("spark.graft.payloadBudgetBytes")
      spark.conf.unset("spark.graft.scratchBudgetBytes")
    }
  }
}
