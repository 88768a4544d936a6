package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.ops.TextAnalysis

/** Property-based invariants of the curation operators over randomized
  * corpora: packing offsets are exactly the running sum in doc order at
  * any shard boundary alignment, and mixture sampling never exceeds its
  * rate cap or its stratum.
  */
object CurationProps extends Properties("Curation") {

  // few, larger batches: every property evaluation runs real Spark jobs
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val genDoc: Gen[(Int, String)] = for {
    words <- Gen.choose(1, 12)
    lang <- Gen.oneOf("en", "de", "es", "fr", "zh")
  } yield (words, lang)

  // sparse, shuffled doc ids spanning several 64-doc shards
  private val genCorpus = for {
    n <- Gen.choose(5, 120)
    docs <- Gen.listOfN(n, genDoc)
    ids <- Gen.pick(n, 0 until 1000)
  } yield ids.toSeq.zip(docs).map { case (id, (words, lang)) =>
    (id.toLong, Seq.fill(words)("w").mkString(" "), lang, "s0")
  }

  // low-vocab texts so benchmark overlap and repeats actually occur
  private val genSmallVocabText = for {
    n <- Gen.choose(1, 15)
    toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
  } yield toks.mkString(" ")

  // always contains at least one benchmark doc (id 0); random ids may add
  // more multiples of 97, which both scrub paths must treat identically
  private val genScrubCorpus = for {
    n <- Gen.choose(3, 40)
    texts <- Gen.listOfN(n, genSmallVocabText)
    benchText <- genSmallVocabText
    ids <- Gen.pick(n, 1 until 500)
  } yield (0L, benchText, "en", "s0") +:
    ids.toSeq.zip(texts).map { case (id, t) => (id.toLong, t, "en", "s0") }

  property("decontam scrub: broadcast-join plan ≡ driver-set plan on any corpus") =
    forAll(genScrubCorpus) { rows =>
      val df = rows.toDF("doc_id", "text", "lang", "source")
      def key(r: (Long, Long, Long, Long, String)) = r._1
      val viaJoin = TextAnalysis.decontamScrub(df)
        .select("doc_id", "n_tokens", "n_contam_ngrams", "n_redacted", "clean_fp")
        .as[(Long, Long, Long, Long, String)].collect().sortBy(key).toSeq
      val bench = graft.pipeline.Tables.shingles(
          df.filter($"doc_id" % TextAnalysis.DECONTAM_MOD === 0))
        .select("shingle").distinct().as[String].collect().sorted.toSeq
      val viaSet = TextAnalysis.scrubAgainstSet(df, bench)
        .select("doc_id", "n_tokens", "n_contam_ngrams", "n_redacted", "clean_fp")
        .as[(Long, Long, Long, Long, String)].collect().sortBy(key).toSeq
      viaJoin == viaSet
    }

  property("packing offsets are the exact running sum over sparse ids") =
    forAll(genCorpus) { rows =>
      val df = rows.toDF("doc_id", "text", "lang", "source")
      val got = TextAnalysis.packSequences(df)
        .select("doc_id", "n_tokens", "start_off")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      var expect = 0L
      got.forall { case (_, n, off) =>
        val ok = off == expect
        expect += n
        ok
      }
    }

  property("incremental pack: append ≡ re-pack of the arrival-ordered stream on any corpus") =
    forAll(genCorpus) { rows =>
      val df = rows.toDF("doc_id", "text", "lang", "source")
      val got = TextAnalysis.packIncremental(df)
        .select("doc_id", "n_tokens", "start_off", "start_seq", "end_seq")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      // re-id the arrivals (odd ids) after every standing id, preserving
      // their relative order, and re-pack the combined stream from scratch
      val base = rows.map(_._1).max + 1
      val reIdd = rows.map { case (id, t, l, s) =>
        (if (id % 2 == 1) base + id else id, t, l, s)
      }.toDF("doc_id", "text", "lang", "source")
      val repacked = TextAnalysis.packSequences(reIdd)
        .filter($"doc_id" >= base)
        .select("doc_id", "n_tokens", "start_off", "start_seq", "end_seq")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
        .map(r => (r._1 - base, r._2, r._3, r._4, r._5)).toSeq
      got == repacked
    }

  property("mix sampling: rate capped at 1.0, sample within its stratum, capped strata fully kept") =
    forAll(genCorpus) { rows =>
      val df = rows.toDF("doc_id", "text", "lang", "source")
      val got = TextAnalysis.mixSample(df)
        .select("lang", "n_docs", "lang_tokens", "rate", "sampled_docs", "sampled_tokens")
        .as[(String, Long, Long, Double, Long, Long)].collect()
      got.forall { case (_, nDocs, langToks, rate, sDocs, sToks) =>
        rate <= 1.0 && sDocs <= nDocs && sToks <= langToks &&
          (rate < 1.0 || (sDocs == nDocs && sToks == langToks))
      }
    }

  property("sharding: token totals conserved, shard ids in range, doc ranges contiguous") =
    forAll(genCorpus) { rows =>
      val df = rows.toDF("doc_id", "text", "lang", "source")
      val shards = TextAnalysis.shardAssignment(df)
        .select("shard_id", "n_docs", "shard_tokens", "min_doc", "max_doc")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      val totalTokens = rows.map(_._2.split("\\s+").length.toLong).sum
      val conserved = shards.map(_._3).sum == totalTokens &&
        shards.map(_._2).sum == rows.length.toLong
      val inRange = shards.forall(s =>
        s._1 >= 0 && s._1 < TextAnalysis.SHARD_COUNT)
      val contiguous = shards.sliding(2).forall {
        case Array(a, b) => a._5 < b._4
        case _ => true
      }
      conserved && inRange && contiguous
    }

  property("entropy: 0 <= H <= ln(n_tokens) + eps, TTR = types/tokens, kernel totals exact") =
    forAll(genCorpus) { rows =>
      // varied tokens so entropy is non-trivial: replace the uniform 'w'
      // filler with a cycling vocabulary, lengths preserved
      val varied = rows.zipWithIndex.map { case ((id, text, lang, src), i) =>
        val n = text.split("\\s+").length
        (id, (0 until n).map(j => s"t${(i + j) % 5}").mkString(" "), lang, src)
      }
      val df = varied.toDF("doc_id", "text", "lang", "source")
      val got = TextAnalysis.lexicalEntropy(df)
        .select("doc_id", "n_tokens", "n_types", "ttr", "entropy_nats")
        .as[(Long, Long, Long, Double, Double)].collect()
      val expected = varied.map { case (id, text, _, _) =>
        id -> text.split("\\s+").length.toLong
      }.toMap
      got.forall { case (id, n, types, ttr, h) =>
        n == expected(id) && types <= n &&
          math.abs(ttr - types.toDouble / n) < 1e-6 &&
          h >= 0.0 && h <= math.log(n.toDouble) + 1e-6
      }
    }

  // small shared vocabulary → real term overlap between documents
  private val genVocabCorpus = for {
    n <- Gen.choose(4, 40)
    texts <- Gen.listOfN(n, for {
      w <- Gen.choose(2, 10)
      toks <- Gen.listOfN(w, Gen.oneOf("alpha", "beta", "gamma", "delta",
        "epsilon", "zeta", "eta", "theta"))
    } yield toks.mkString(" "))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s0") }

  property("bm25: per query the rank list is dense, ids unique, scores descending on rank") =
    forAll(genVocabCorpus) { rows =>
      val df = rows.toDF("doc_id", "text", "lang", "source")
      val got = TextAnalysis.bm25TopK(df, nQueries = 2, k = 5,
        TextAnalysis.termFreqs(df).localCheckpoint())
        .select("q_id", "doc_id", "bm25", "rnk")
        .as[(Long, Long, Double, Long)].collect()
      got.groupBy(_._1).forall { case (q, hits) =>
        val sorted = hits.sortBy(_._4)
        sorted.map(_._4).toSeq == (1L to hits.length) &&
          sorted.map(_._2).distinct.length == hits.length &&
          sorted.forall(_._2 != q) &&
          sorted.sliding(2).forall {
            case Array(a, b) => a._3 >= b._3
            case _ => true
          }
      }
    }

  property("fertility: every word costs at least one token; merges only reduce the count") =
    forAll(genVocabCorpus) { rows =>
      val df = rows.toDF("doc_id", "text", "lang", "source")
      val got = TextAnalysis.tokenizerFertility(df)
        .select("n_words", "bpe_tokens", "fertility")
        .as[(Long, Long, Double)].collect()
      val totalWords = rows.map(_._2.split("\\s+").length.toLong).sum
      got.map(_._1).sum == totalWords && got.forall { case (w, t, f) =>
        t >= w && f >= 1.0 // a word is never fewer than one token
      }
    }

  property("decontam report agrees with decontam on who leaks: zero rows iff zero flags") =
    forAll(genVocabCorpus) { rows =>
      val df = rows.toDF("doc_id", "text", "lang", "source")
      val flags = TextAnalysis.decontam(df)
        .select("doc_id", "n_contam").as[(Long, Long)].collect()
      val report = TextAnalysis.decontamReport(df)
        .select("bench_id", "n_leaky_docs", "max_overlap", "n_hits")
        .as[(Long, Long, Long, Long)].collect()
      val benchIds = rows.map(_._1).filter(_ % TextAnalysis.DECONTAM_MOD == 0)
      val rowsComplete = report.map(_._1).sorted.toSeq == benchIds.sorted
      // internal consistency: an item has leaks iff all three stats agree
      val consistent = report.forall { case (_, d, m, h) =>
        (d == 0) == (m == 0) && (m == 0) == (h == 0) && h >= m && h >= d
      }
      // cross-operator: a doc is flagged iff some bench item counts it,
      // and per-bench hit totals can only refine (>=) the distinct-set
      // counts decontam uses
      val anyFlag = flags.exists(_._2 > 0)
      val anyLeak = report.exists(_._4 > 0)
      rowsComplete && consistent && (anyFlag == anyLeak) &&
        report.map(_._4).sum >= flags.map(_._2).sum
    }

  property("z-order Morton coding is a bijection on its domain") = {
    import org.apache.spark.sql.functions.col
    val n = 1 << graft.ops.Relational.Z_BITS
    val pairs = for (a <- 0 until n; b <- 0 until n) yield (a.toLong, b.toLong)
    val keys = pairs.toDF("a", "b")
      .select(graft.ops.Relational.zInterleave(col("a"), col("b")).as("z"))
      .as[Long].collect()
    keys.length == n * n && keys.distinct.length == n * n &&
      keys.min == 0L && keys.max == n.toLong * n - 1
  }

  property("temperature mixing: α=1 is the identity, α<1 flattens, shares renormalize") =
    forAll(genCorpus) { rows =>
      val df = rows.toDF("doc_id", "text", "lang", "source")
        // spread docs over sources so shares differ
        .withColumn("source",
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("s"),
            org.apache.spark.sql.functions.col("doc_id") % 3))
      val id = TextAnalysis.mixTemperature(df, 1.0)
        .select("source", "raw_share", "temp_share", "sample_factor")
        .as[(String, Double, Double, Double)].collect()
      val identity = id.forall { case (_, raw, temp, fac) =>
        math.abs(raw - temp) <= 2e-6 && math.abs(fac - 1.0) <= 2e-6
      }
      val half = TextAnalysis.mixTemperature(df, 0.5)
        .select("source", "raw_share", "temp_share")
        .as[(String, Double, Double)].collect()
      // flattening contracts the extremes (the largest share can only
      // shrink, the smallest only grow — mid shares may cross the mean,
      // so per-source direction is NOT an invariant) and preserves order
      val normalized = math.abs(half.map(_._3).sum - 1.0) <= 1e-4
      val byRaw = half.sortBy(_._2)
      val orderKept = byRaw.map(_._3).toSeq.sliding(2).forall {
        case Seq(a, b) => a <= b + 2e-6
        case _ => true
      }
      val contracted = half.isEmpty ||
        (byRaw.last._3 <= byRaw.last._2 + 2e-6 &&
          byRaw.head._3 >= byRaw.head._2 - 2e-6)
      identity && normalized && orderKept && contracted
    }

  property("curriculum: pos is a 0..N-1 permutation and bands never decrease along it") =
    forAll(genCorpus) { rows =>
      val df = rows.toDF("doc_id", "text", "lang", "source")
      val got = TextAnalysis.curriculumManifest(df)
        .select("doc_id", "band", "pos").as[(Long, Long, Long)].collect()
      val perm = got.map(_._3).sorted.toSeq == (0L until rows.length.toLong)
      val ordered = got.sortBy(_._3).map(_._2).toSeq.sliding(2).forall {
        case Seq(a, b) => a <= b
        case _ => true
      }
      perm && ordered
    }
}
