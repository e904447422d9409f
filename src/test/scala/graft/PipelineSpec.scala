package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (3L, "completely different text about spark engines and data"),
      (4L, "der hund ist nicht auf der couch und ich bin hier"),
      (5L, "le chat est dans la maison et il dort pour le moment"),
      (6L, "el perro no es un gato y se fue en la casa"),
      (7L, "")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps lowest id per distinct text") {
    val kept = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(0L, 1L, 3L, 4L, 5L, 6L, 7L)) // 2 deduped into 0
  }

  test("UrlOps: host, eTLD+1 and normalization across the edge cases") {
    import spark.implicits._
    val d = Seq(
      (1L, "HTTPS://User:pw@WWW.Example.CO.UK:8080/a/b?utm_source=x&id=1&ref=z#f"),
      (2L, "http://a.b.site.com/x"),
      (3L, "https://short.io?utm_a=1&gclid=2"), // every param is tracking
      (4L, "not a url at all"),                 // unparseable: pass through
      (5L, "http://localhost/x"),               // single-label host
      (6L, "https://Site.Com:443/x"),           // default port: dropped
      (7L, "http://site.com:80/x?a=1"),         // default port: dropped
      (8L, "HTTP://[2001:DB8::1]:8080/x#f")     // bracketed IPv6 authority
    ).toDF("id", "url")
    val out = d.select(col("id"), UrlOps.urlHost(col("url")).as("h"),
        UrlOps.registeredDomain(UrlOps.urlHost(col("url"))).as("rd"),
        UrlOps.normalizeUrl(col("url")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(out === Seq(
      // userinfo stripped, case folded, tracking params dropped, fragment
      // dropped, non-tracking params kept in order; NON-default ports
      // survive (distinct origin), scheme-default ports drop
      (1L, "www.example.co.uk", "example.co.uk",
        "https://www.example.co.uk:8080/a/b?id=1"),
      (2L, "a.b.site.com", "site.com", "http://a.b.site.com/x"),
      (3L, "short.io", "short.io", "https://short.io"),
      (4L, "", "", "not a url at all"),
      (5L, "localhost", "localhost", "http://localhost/x"),
      (6L, "site.com", "site.com", "https://site.com/x"),
      (7L, "site.com", "site.com", "http://site.com/x?a=1"),
      (8L, "[2001:db8::1]", "[2001:db8::1]",
        "http://[2001:db8::1]:8080/x")))
    // blocklist filters on the registered domain, not the raw host
    val kept = UrlOps.domainFilter(d, col("url"), Seq("site.com"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 3L, 4L, 5L, 8L))
  }

  test("registeredDomainPsl: private suffixes, wildcards, exceptions, default rule") {
    import spark.implicits._
    val hosts = Seq(
      (1L, "blog.github.io"),      // github.io is a PRIVATE public suffix
      (2L, "a.blog.github.io"),    //   → each subdomain its own registrant
      (3L, "github.io"),           // host IS a public suffix: passthrough
      (4L, "shop.blogspot.com"),   // private suffix under .com
      (5L, "www.example.co.uk"),   // two-label ccTLD registry
      (6L, "x.com.sg"),            // registry the heuristic list lacks
      (7L, "a.b.ck"),              // *.ck wildcard: b.ck is a public suffix
      (8L, "x.www.ck"),            // !www.ck exception beats the wildcard
      (9L, "www.ck"),              // the exception rule itself
      (10L, "deep.sub.example.org"), // plain gTLD
      (11L, "unlisted.tld.zz"),    // default rule *: last label
      (12L, "localhost"),          // single label: passthrough
      (13L, "[2001:db8::1]")       // IPv6 literal: passthrough
    ).toDF("id", "host")
    val got = hosts.select(col("id"),
        UrlOps.registeredDomainPsl(col("host")).as("rd"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, "blog.github.io"),
      (2L, "blog.github.io"),
      (3L, "github.io"),
      (4L, "shop.blogspot.com"),
      (5L, "example.co.uk"),
      (6L, "x.com.sg"),
      (7L, "a.b.ck"),
      (8L, "www.ck"),
      (9L, "www.ck"),
      (10L, "example.org"),
      (11L, "tld.zz"),
      (12L, "localhost"),
      (13L, "[2001:db8::1]")))
    // the heuristic misgroups exactly the blog.github.io class — the
    // documented reason the PSL resolver exists
    val heur = hosts.filter(col("id") === 1)
      .select(UrlOps.registeredDomain(col("host")))
      .collect()(0).getString(0)
    assert(heur === "github.io")
    // a swapped-in rules file takes effect (the data-file contract)
    val custom = UrlOps.parsePsl(Seq("// custom", "my.suffix"))
    val c = Seq((1L, "deep.site.my.suffix")).toDF("id", "host")
      .select(UrlOps.registeredDomainPsl(col("host"), custom))
      .collect()(0).getString(0)
    assert(c === "site.my.suffix")
    // blocklisting a platform SUBDOMAIN only works through the PSL: the
    // heuristic collapses every *.github.io to github.io so the entry
    // can never fire (and blocking github.io would nuke the platform)
    val urls = Seq(
      (1L, "https://spam.github.io/x"),
      (2L, "https://legit.github.io/x"),
      (3L, "https://spam.github.io.evil.com/x") // lookalike: NOT blocked id
    ).toDF("id", "url")
    val keptPsl = UrlOps.domainFilterPsl(urls, col("url"),
        Seq("spam.github.io")).collect().map(_.getLong(0)).sorted.toSeq
    assert(keptPsl === Seq(2L, 3L))
    val keptHeur = UrlOps.domainFilter(urls, col("url"),
        Seq("spam.github.io")).collect().map(_.getLong(0)).sorted.toSeq
    assert(keptHeur === Seq(1L, 2L, 3L), "heuristic can never match the entry")
  }

  test("urlHost agrees with java.net.URI over structured random URLs") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val urls = (0 until 200).map { i =>
      val scheme = Seq("http", "https", "ftp")(rnd.nextInt(3))
      val user = if (rnd.nextBoolean()) s"u$i" +
        (if (rnd.nextBoolean()) ":pw" else "") + "@" else ""
      val host =
        if (i % 11 == 0) s"[2001:DB8::${i % 9}]" // bracketed IPv6 literal
        else (0 to rnd.nextInt(3))
          .map(j => s"H${(i + j) % 40}").mkString(".") + ".ExAmple.com"
      val port = if (rnd.nextBoolean()) s":${1024 + rnd.nextInt(40000)}" else ""
      val path = if (rnd.nextBoolean()) s"/a$i/b" else ""
      val q = if (rnd.nextBoolean()) s"?x=$i&utm_source=t" else ""
      val f = if (rnd.nextBoolean()) "#frag" else ""
      s"$scheme://$user$host$port$path$q$f"
    }
    val got = urls.toDF("url").select(UrlOps.urlHost(col("url")))
      .collect().map(_.getString(0)).toSeq
    val expected = urls.map(u => new java.net.URI(u).getHost.toLowerCase)
    assert(got === expected)
  }

  test("packSequences matches the local cumulative model on random shards") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val rows = for (s <- Seq("a", "b", "c"); i <- 0 until 50)
      yield (i.toLong, s, 1L + rnd.nextInt(700))
    val L = 512
    val out = Sampling.packSequences(rows.toDF("doc_id", "shard", "n"),
        col("n"), col("doc_id"), col("shard"), L)
      .collect().map(r => ((r.getString(1), r.getLong(0)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    for (s <- Seq("a", "b", "c")) {
      var start = 0L // the concatenated token stream position, per shard
      for (i <- 0L until 50L) {
        val n = rows.find(r => r._1 == i && r._2 == s).get._3
        val (nTok, bs, be, off) = out((s, i))
        assert(nTok == n)
        assert(bs == start / L && be == (start + n - 1) / L && off == start % L,
          s"shard $s doc $i: got ($bs,$be,$off), stream start $start len $n")
        start += n
      }
    }
  }

  test("line dedup: first (doc,pos) occurrence wins, docs reassemble in order") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),        // beta seen in doc 1 → only delta survives
      (3L, "gamma\nalpha"),       // both seen → doc vanishes entirely
      (4L, "epsilon\nepsilon"),   // intra-doc dup: first pos wins
      (5L, "zeta")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, "alpha\nbeta\ngamma", 3L),
      (2L, "delta", 1L),
      (4L, "epsilon", 1L),
      (5L, "zeta", 1L)))
  }

  test("sequence packing: per-shard cumsum maps docs onto fixed blocks") {
    import spark.implicits._
    val d = Seq(
      (1L, "a", 3L), (2L, "a", 4L), (3L, "a", 6L), // cum 3,7,13 at L=5
      (1L, "b", 5L), (2L, "b", 1L)                 // shard-local numbering
    ).toDF("doc_id", "shard", "n")
    val out = Sampling.packSequences(d, col("n"), col("doc_id"),
        col("shard"), seqLen = 5)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out === Seq(
      // (shard, doc, n_tok, block_start, block_end, offset_start)
      ("a", 1L, 3L, 0L, 0L, 0L),   // tokens [0,3)
      ("a", 2L, 4L, 0L, 1L, 3L),   // [3,7) — straddles the block boundary
      ("a", 3L, 6L, 1L, 2L, 2L),   // [7,13)
      ("b", 1L, 5L, 0L, 0L, 0L),   // [0,5) — exactly one full block
      ("b", 2L, 1L, 1L, 1L, 0L)))  // [5,6)
  }

  test("chunkText: overlapping windows cover every token; short docs get one chunk") {
    import spark.implicits._
    val d = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), (2L, "a b"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkText(d, col("text"), col("doc_id"),
        chunkTokens = 5, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out === Seq(
      (1L, 0L, "t1 t2 t3 t4 t5", 5L),
      (1L, 1L, "t4 t5 t6 t7 t8", 5L),  // stride 3, 2-token overlap
      (1L, 2L, "t7 t8 t9 t10", 4L),    // last chunk short, still covers t10
      (2L, 0L, "a b", 2L)))            // doc shorter than a chunk → one chunk
  }

  test("bigramCrossEntropy matches a local model; foreign LM smooths unseen bigrams") {
    import spark.implicits._
    val d = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // local model of the same add-one bigram LM with integer-quantized logs
    val docs = Map(1L -> Seq("a", "b", "a", "b"), 2L -> Seq("a", "b", "c"))
    val bi = docs.toSeq.flatMap { case (id, tk) =>
      tk.zip(tk.tail).map(p => (id, p)) }
    val bc = bi.groupBy(_._2).map { case (p, xs) => p -> xs.size.toLong }
    val cc = bc.groupBy(_._1._1).map { case (w1, xs) => w1 -> xs.values.sum }
    val v = bc.keys.map(_._2).toSet.size
    def xent(id: Long): Double = {
      val terms = bi.filter(_._1 == id).map { case (_, p) =>
        math.round(math.log((bc(p) + 1).toDouble / (cc(p._1) + v)) * 1e6) }
      BigDecimal(-terms.sum.toDouble / (terms.size * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val out = TextAnalysis.bigramCrossEntropy(d, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.toSeq === Seq((1L, 3L, xent(1L)), (2L, 2L, xent(2L))))
    // a FOREIGN LM: bigrams unseen in it smooth to P = 1/(0+V), never NaN
    val lm = Seq((10L, "a b")).toDF("doc_id", "text")
    val foreign = TextAnalysis.bigramCrossEntropy(
        Seq((3L, "x y")).toDF("doc_id", "text"), col("text"), col("doc_id"),
        lmCorpus = Some(lm))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // V=1, c=0 → P=(0+1)/(0+1)=1 → xent 0
    assert(foreign.toSeq === Seq((3L, 1L, 0.0)))
  }

  test("containment pairs: a quoted short doc scores 1 where jaccard stays low") {
    import spark.implicits._
    val d = Seq((1L, "a b c"), (2L, "a b c d e f g h"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(d, col("text"), col("doc_id"), n = 1,
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(cont === Seq((1L, 2L, 1.0)))
    // the same pair under Jaccard is 3/8 — the asymmetric metric is the
    // only one that sees the sub-document duplication
    val jac = Dedup.jaccardPairs(d, col("text"), col("doc_id"), n = 1,
        threshold = 0.9).collect()
    assert(jac.isEmpty)
  }

  test("containmentLsh: candidates + exact verify equal the exact containment join") {
    import spark.implicits._
    // random corpus with planted sub-document duplication: quotes of a
    // short doc inside longer ones, exact dups, plus unrelated noise
    val rnd = new scala.util.Random(41)
    val vocabW = (0 until 200).map(i => s"w$i")
    def sent(k: Int) = Seq.fill(k)(vocabW(rnd.nextInt(vocabW.size))).mkString(" ")
    val short = "alpha beta gamma delta"
    val rows =
      (0L until 40L).map(i => (i, sent(8 + rnd.nextInt(20)))) ++
      Seq((100L, short),
        (101L, short + " " + sent(25)),           // full quote
        (102L, sent(10) + " " + short),           // quote at the end
        (103L, "alpha beta gamma"),               // contained in 100
        (104L, short))                            // exact dup of 100
    val d = rows.toDF("doc_id", "text")
    def norm(a: Array[org.apache.spark.sql.Row]) =
      a.map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).sortBy(t => (t._1, t._2)).toSeq
    for (t <- Seq(0.8, 0.95, 1.0)) {
      val exact = norm(Dedup.containmentPairs(d, col("text"), col("doc_id"),
        n = 1, threshold = t).collect())
      val lsh = norm(Dedup.containmentLsh(d, col("text"), col("doc_id"),
        n = 1, threshold = t, numProbes = 16).collect())
      assert(lsh === exact, s"threshold $t")
      assert(t > 0.95 || exact.exists(p => p._1 == 100L && p._2 == 101L),
        "planted quote pair missing from the exact baseline")
    }
    // n=2 shingles: the same equivalence holds on bigram containment
    val exact2 = norm(Dedup.containmentPairs(d, col("text"), col("doc_id"),
      n = 2, threshold = 0.9).collect())
    val lsh2 = norm(Dedup.containmentLsh(d, col("text"), col("doc_id"),
      n = 2, threshold = 0.9, numProbes = 16).collect())
    assert(lsh2 === exact2)
  }

  test("normalizeText: case folded, punctuation stripped, whitespace collapsed") {
    import spark.implicits._
    val out = Seq("  Hello, WORLD!!  42\t(ok) ", "", "??!")
      .toDF("t").select(TextAnalysis.normalizeText(col("t")))
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("hello world 42 ok", "", ""))
  }

  test("jaccard pairs find near and exact dups") {
    val pairs = Dedup.jaccardPairs(docs, col("text"), col("doc_id"), n = 1,
      threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L))) // exact: jaccard 1.0
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L))) // near
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH finds the same high-jaccard pairs as brute force") {
    val brute = Dedup.jaccardPairs(docs, col("text"), col("doc_id"), n = 1,
      threshold = 0.7).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLsh(docs, col("text"), col("doc_id"), n = 1,
      numHashes = 64, bands = 32, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // verify step makes LSH ⊆ brute; banding at r=2 makes recall ~1 here
    assert(lsh.subsetOf(brute))
    assert(lsh.contains((0L, 2L)))
    assert(lsh == brute, s"LSH missed ${brute -- lsh}")
  }

  test("simhash: identical texts collide, near-dups are close, others far") {
    val sigs = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(2L))
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(dist(sigs(0L), sigs(1L)) < dist(sigs(0L), sigs(3L)))
    val pairs = Dedup.simHashPairs(docs, col("text"), col("doc_id"), maxDist = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L)))
  }

  test("langId identifies stopword-bearing languages") {
    val got = docs.filter(col("doc_id").isin(0L, 4L, 5L, 6L, 7L))
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "en")
    assert(got(4L) == "de")
    assert(got(5L) == "fr")
    assert(got(6L) == "es")
    assert(got(7L) == "und")
  }

  test("PII redaction scrubs emails, IPs and long digit runs; count agrees") {
    import spark.implicits._
    val cases = Seq(
      (1L, "mail bob.smith+x@example.co.uk now", "mail [EMAIL] now", 1),
      (2L, "from 192.168.1.254 port 443", "from [IP] port 443", 1),
      (3L, "acct 12345678 and card 4111111111111111", "acct [NUM] and card [NUM]", 2),
      (4L, "a@b.io at 10.0.0.1 ref 987654321", "[EMAIL] at [IP] ref [NUM]", 3),
      (5L, "v1.2.3 costs 12.99 on day 1234567", "v1.2.3 costs 12.99 on day 1234567", 0),
      (6L, "", "", 0))
    val out = cases.toDF("id", "t", "want", "wantN")
      .select(col("id"), col("want"), col("wantN"),
        TextAnalysis.redactPii(col("t")).as("got"),
        TextAnalysis.piiMatchCount(col("t")).as("gotN"))
      .collect()
    for (r <- out) {
      assert(r.getAs[String]("got") == r.getAs[String]("want"),
        s"id ${r.getAs[Long]("id")}")
      assert(r.getAs[Int]("gotN") == r.getAs[Int]("wantN"),
        s"count for id ${r.getAs[Long]("id")}")
    }
  }

  test("quality score and token counts behave") {
    val r = docs.select(
        TextAnalysis.tokenCount(col("text")).as("tc"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bc"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      .collect()
    assert(r(0).getInt(0) == 9)
    assert(r(7).getInt(0) == 0) // empty text
    assert(r.forall(x => x.getDouble(2) >= 0.0 && x.getDouble(2) <= 1.0))
  }

  test("embedding cosine topK: quantized matches plain ordering, full-probe IVF == exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L).map { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      (i, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2
    val plain = Similarity.topK(df.filter($"vec_id" =!= 0L), col("embedding"),
      col("vec_id"), q, 5).collect().map(_.getLong(0)).toSeq
    val quant = Similarity.topK(df.filter($"vec_id" =!= 0L), col("embedding"),
      col("vec_id"), q, 5, quantized = true).collect().map(_.getLong(0)).toSeq
    assert(plain == quant) // 1e-6 quantization cannot reorder random vectors
    val idx = "target/test-ivf-full"
    val centroids = Similarity.ivfBuild(df.filter($"vec_id" =!= 0L),
      col("embedding"), col("vec_id"), 8, idx)
    val ann = Similarity.ivfTopK(spark, idx, centroids, col("embedding"),
      col("vec_id"), q, 5, nProbe = 8).collect().map(_.getLong(0)).toSeq
    assert(ann == plain) // probing ALL centroids must recover exact top-k
  }

  test("quantizeLocal is bit-identical to the quantize Column over floats") {
    // The literal-query fast path (cosineQuantizedPre) folds the query
    // side at plan-build time with quantizeLocal; any divergence from the
    // Column path would flip oracle hashes. Pin them equal over random
    // floats plus the adversarial set: HALF_UP half-way points both signs
    // (where Math.round would differ on negatives), zero, subnormals, and
    // magnitudes around the 1e6 scale. Non-finite components refuse on
    // BOTH paths (ANSI cast vs the local require), asserted separately.
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val adversarial = Seq(0.0f, -0.0f, 0.5e-6f, -0.5e-6f, 1.5e-6f, -1.5e-6f,
      2.5e-6f, -2.5e-6f, 1e-7f, -1e-7f, 0.9999995e-6f, -0.9999995e-6f,
      1.0f, -1.0f, 123.456789f, -123.456789f, 3.4e8f, -3.4e8f,
      Float.MinPositiveValue, -Float.MinPositiveValue)
    val floats = adversarial ++
      Seq.fill(2000)(rnd.nextGaussian().toFloat) ++
      Seq.fill(500)((rnd.nextGaussian() * 1e-6).toFloat) ++
      Seq.fill(500)((rnd.nextGaussian() * 1e6).toFloat)
    val arr = floats.toArray
    val sparkSide = spark.range(1)
      .select(Similarity.quantize(lit(arr)).as("q"))
      .head().getSeq[Long](0)
    val localSide = Similarity.quantizeLocal(arr.toSeq).toSeq
    assert(sparkSide == localSide)
    intercept[IllegalArgumentException] {
      Similarity.quantizeLocal(Seq(Float.NaN))
    }
    intercept[IllegalArgumentException] {
      Similarity.quantizeLocal(Seq(Float.PositiveInfinity))
    }
    // overflow refusal mirrors the Column path's ANSI long cast: the
    // BigDecimal path would otherwise silently SATURATE to Long.MaxValue
    // where quantize() throws (|x * 1e6| > Long.MaxValue ⇔ x ≳ 9.2e12)
    intercept[IllegalArgumentException] {
      Similarity.quantizeLocal(Seq(1.0e13f))
    }
  }

  test("IVF pruned probe: recall@10 on clustered data, partition-pruned scan") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 8 tight clusters: top-k neighbours of any member live in its own cell
    val centers = Seq.fill(8)(Array.fill(16)(rnd.nextGaussian() * 10))
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.01).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2
    val data = df.filter($"vec_id" =!= 0L)
    val idx = "target/test-ivf-pruned"
    val centroids = Similarity.ivfBuild(data, col("embedding"), col("vec_id"), 8, idx)
    val exact = Similarity.topK(data, col("embedding"), col("vec_id"), q, 10)
      .collect().map(_.getLong(0)).toSet
    val pruned = Similarity.ivfTopK(spark, idx, centroids, col("embedding"),
      col("vec_id"), q, 10, nProbe = 2)
    val got = pruned.collect().map(_.getLong(0)).toSet
    assert(got.intersect(exact).size >= 9,
      s"recall@10 ${got.intersect(exact).size}/10")
    // the probe must prune at the partition (file) level, not post-scan
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "IVF probe scan carries no partition filters")
    assert(scans.head.selectedPartitions.partitionCount < 8,
      "IVF probe did not prune cell partitions")
  }

  test("filtered ANN: predicate applies before ranking; full probe equals exact filtered top-k") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq, (i % 5).toInt)
    }.toDF("vec_id", "embedding", "label")
    val idx = java.nio.file.Files.createTempDirectory("ivf-filt").toString
    val corpus = vecs.filter(col("vec_id") =!= 0)
    val cents = Similarity.ivfBuildIfMissing(corpus, col("embedding"),
      col("vec_id"), nCentroids = 4, idx)
    val q = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val pred = col("label") === 2
    val exact = Similarity.topK(corpus.filter(pred), col("embedding"),
        col("vec_id"), q, k = 7, quantized = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val filtered = Similarity.ivfTopK(spark, idx, cents, col("embedding"),
        col("vec_id"), q, k = 7, nProbe = 4, quantized = true,
        extraFilter = Some(pred))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(filtered === exact, "full-probe filtered ANN must equal exact")
    // pruned probe: recall may drop, but the predicate NEVER leaks — every
    // returned id satisfies it (pre-filter, not post-filter semantics)
    val prunedIds = Similarity.ivfTopK(spark, idx, cents, col("embedding"),
        col("vec_id"), q, k = 7, nProbe = 1, quantized = true,
        extraFilter = Some(pred))
      .collect().map(_.getLong(0)).toSet
    assert(prunedIds.forall(_ % 5 == 2), s"predicate leaked: $prunedIds")
  }

  test("IVF cached index rebuilds when the dataset changes (fingerprint)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def mkDf(n: Long) = (0L until n).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val idx = "target/test-ivf-fp"
    val d1 = mkDf(40)
    val c1 = Similarity.ivfBuildIfMissing(d1, col("embedding"), col("vec_id"), 4, idx)
    // same dataset: reused verbatim (deterministic sample ⇒ exact equality)
    assert(Similarity.ivfBuildIfMissing(d1, col("embedding"), col("vec_id"), 4, idx) == c1)
    // changed dataset at the SAME path and centroid count: must rebuild, and
    // a probe must see the new rows (stale index would miss ids ≥ 40)
    val d2 = mkDf(60)
    val c2 = Similarity.ivfBuildIfMissing(d2, col("embedding"), col("vec_id"), 4, idx)
    val ids = spark.read.parquet(idx).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids.size == 60, s"stale index served: ${ids.size} rows")
    assert(c2 != c1 || ids.contains(59L))
  }

  test("corrupt/truncated index meta reads as stale: rebuild, never a bricked path") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val d = (0L until 40L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // IVF: a crash-truncated header (garbage count) must rebuild cleanly
    val ivfDir = java.nio.file.Files.createTempDirectory("ivf-torn").toString
    Similarity.ivfBuildIfMissing(d, col("embedding"), col("vec_id"), 4, ivfDir)
    val cMeta = java.nio.file.Paths.get(ivfDir, "_centroids.txt")
    val header = java.nio.file.Files.readAllLines(cMeta).get(0)
    java.nio.file.Files.writeString(cMeta,
      header.replaceAll(";n=\\d+$", ";n=4x") + "\n0.1,garbage")
    val c = Similarity.ivfBuildIfMissing(
      d.filter(col("vec_id") >= 0), col("embedding"), col("vec_id"), 4, ivfDir)
    assert(c.nonEmpty, "torn IVF meta must rebuild, not throw")
    // IVF-PQ: same contract for _pq.txt
    val pqDir = java.nio.file.Files.createTempDirectory("pq-torn").toString
    Similarity.ivfPqBuildIfMissing(d, col("embedding"), col("vec_id"),
      nCentroids = 4, m = 4, k = 8, pqDir)
    val pMeta = java.nio.file.Paths.get(pqDir, "_pq.txt")
    val pLines = java.nio.file.Files.readAllLines(pMeta)
    // corrupt ONE codeword line in place (line count still matches, so the
    // failure is a parse error mid-body, not a cheap length mismatch)
    pLines.set(pLines.size() - 1, "not,a,number")
    java.nio.file.Files.writeString(pMeta,
      String.join("\n", pLines))
    val (coarse, books) = Similarity.ivfPqBuildIfMissing(
      d.filter(col("vec_id") >= 0), col("embedding"), col("vec_id"),
      nCentroids = 4, m = 4, k = 8, pqDir)
    assert(coarse.nonEmpty && books.nonEmpty,
      "torn PQ meta must rebuild, not throw")
  }

  test("cosine dedup: twins drop, LSH-bucketed mode equals exact mode") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map(i => (i, Array.fill(16)(rnd.nextFloat())))
    // twins of every 4th vector under new larger ids
    val twins = base.filter(_._1 % 4 == 0).map { case (i, v) => (i + 1000L, v) }
    val all = (base ++ twins).toDF("id", "v")
    val exact = Similarity.cosineDedup(all, col("v"), col("id"),
        threshold = 0.999).select("id").collect().map(_.getLong(0)).sorted
    // every twin has its original (smaller id, cosine 1.0) -> only base stays
    assert(exact.toSeq == (0L until 40L).toSeq)
    // LSH-bucketed candidates: identical vectors collide deterministically,
    // so the same rows drop without the all-pairs join
    val lsh = Similarity.cosineDedup(all, col("v"), col("id"),
        threshold = 0.999, dim = 16, nBits = 8)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(lsh.toSeq == exact.toSeq)
  }

  test("striped selfPairs: identical pair set at any stripe count") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (0L until 60L).map(i => (i, i % 3, rnd.nextDouble())).toDF("id", "blk", "x")
    def pairs(stripes: Int) =
      Similarity.selfPairs(df, Seq("blk"), "id", stripes)
        .select(least(col("a.id"), col("b.id")), greatest(col("a.id"), col("b.id")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = pairs(1)
    // 3 blocks of 20 -> 190 pairs each
    assert(base.size == 3 * 190)
    for (s <- Seq(2, 5, 8, 64)) { // incl. stripes >> rows-per-block
      val got = pairs(s)
      assert(got == base, s"stripes=$s diverged: ${got.size} vs ${base.size}")
    }
  }

  test("striped pair operators match their unstriped output") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val base = (0L until 50L).map(i => (i, i % 4, Array.fill(12)(rnd.nextFloat())))
    val twins = base.filter(_._1 % 5 == 0).map { case (i, l, v) => (i + 500L, l, v) }
    val all = (base ++ twins).toDF("id", "label", "v")
    val d1 = Similarity.cosineDedup(all, col("v"), col("id"), threshold = 0.999)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val d8 = Similarity.cosineDedup(all, col("v"), col("id"), threshold = 0.999,
        stripes = 8).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(d8 == d1)
    def tp(stripes: Int) = Similarity.blockedTopPairs(all, col("v"), col("id"),
        col("label"), stripes = stripes)
      .select("block", "id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(tp(6) == tp(1))
    def lp(stripes: Int) = Similarity.lshCosinePairs(all, col("v"), col("id"),
        dim = 12, nBits = 4, threshold = 0.999, stripes = stripes)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(lp(3) == lp(1) && lp(1).nonEmpty)
  }

  test("native SimHash64 is bit-identical to the Column/HOF formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val words = Vector("alpha", "Beta", "γάμμα", "delta,", "e", "ζ7", "\ttab")
    val docs = Seq("", " ", "   ", "a", "a b", "a  b", " padded  doc ",
      "tab\tinside stays one-token", "ünïcødé tökens überall") ++
      (0 until 60).map(_ => Seq.fill(1 + rnd.nextInt(10))(
        words(rnd.nextInt(words.size))).mkString(" " * (1 + rnd.nextInt(2))))
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select(col("id"), Dedup.simHash(col("text")).as("n"),
        Dedup.simHashColumnar(col("text")).as("c"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"id=${r.getLong(0)}: native ${r.getLong(1)} != columnar ${r.getLong(2)}")
    }
    // null text → null signature on both paths
    val nulls = Seq((0L, Option.empty[String])).toDF("id", "text")
      .select(Dedup.simHash(col("text")), Dedup.simHashColumnar(col("text")))
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("striped text dedup operators match their unstriped output") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    def doc() = Seq.fill(12)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = (0L until 30L).map(i => (i, doc()))
    val dups = base.take(8).map { case (i, t) => (i + 100L, t + " theta") }
    val df = (base ++ dups).toDF("doc_id", "text")
    def jp(s: Int) = Dedup.jaccardPairs(df, col("text"), col("doc_id"), 2, 0.5, s)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(jp(5) == jp(1) && jp(1).nonEmpty)
    def ml(s: Int) = Dedup.minHashLsh(df, col("text"), col("doc_id"), 2, 32, 8, 0.5, s)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(ml(5) == ml(1) && ml(1).nonEmpty)
    def sp(s: Int) = Dedup.simHashPairs(df, col("text"), col("doc_id"), 7, s)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(sp(5) == sp(1) && sp(1).nonEmpty)
  }

  test("shingles: n>=2 on docs shorter than n tokens is empty, not an error") {
    import spark.implicits._
    val df = Seq((0L, ""), (1L, "one"), (2L, "two words"),
      (3L, "three word doc")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(0L).isEmpty && got(1L).isEmpty && got(2L).isEmpty)
    assert(got(3L) == Seq("three word doc"))
    // and the pair operators survive short docs at n=2
    val pairs = Dedup.jaccardPairs(df, col("text"), col("doc_id"), n = 2,
      threshold = 0.5).collect()
    assert(pairs.isEmpty)
    val lsh = Dedup.minHashLsh(df, col("text"), col("doc_id"), n = 2,
      numHashes = 16, bands = 8, threshold = 0.5).collect()
    assert(lsh.isEmpty)
  }

  test("multimodal plumbing: schema, stub decode shapes, frame sampling") {
    import spark.implicits._
    val media = Multimodal.withMeta(
      Seq((1L, "0123456789abcdef0123456789abcdef".getBytes),
          (2L, "xy".getBytes))
        .toDF("media_id", "payload"),
      lit("img/fake"), lit(1920), lit(1080), lit(0L))
    val gotMeta = media.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(gotMeta.fields.map(f => (f.name, f.dataType)).toSeq ==
      Multimodal.metaSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    val out = media.select(
        Multimodal.decodeImageFeatures(col("payload"), 8).as("f"),
        Multimodal.sampleFrames(col("payload"), 4, 2, 3).as("fr"),
        Multimodal.resizeMeta(col("meta"), 960).as("m2"))
      .collect()
    assert(out(0).getSeq[Float](0).size == 8)
    assert(out(0).getSeq[Array[Byte]](1).size == 3) // 32 bytes → 3 frames of 4 every 8
    assert(out(1).getSeq[Array[Byte]](1).size == 1) // 2 bytes → 1 partial frame
    val m2 = out(0).getStruct(2)
    assert(m2.getAs[Int]("width") == 960 && m2.getAs[Int]("height") == 540)
    // deterministic: same payload → same features
    val f2 = media.select(Multimodal.decodeImageFeatures(col("payload"), 8).as("f"))
      .collect()(0).getSeq[Float](0)
    assert(f2 == out(0).getSeq[Float](0))
  }

  // ---- real uncompressed-format codecs (pure JVM, no libraries) ----------

  /** 24bpp bottom-up BMP with per-pixel gray level from `pix(x, y)`. */
  private def bmpBytes(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val size = 54 + rowBytes * h
    val bb = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    bb.putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (y <- h - 1 to 0 by -1) { // bottom row stored first
      for (x <- 0 until w) {
        val v = pix(x, y).toByte
        bb.put(v).put(v).put(v)
      }
      bb.position(bb.position() + rowBytes - w * 3)
    }
    bb.array()
  }

  /** mono PCM16 WAV at 8 kHz. */
  private def wavBytes(samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    bb.put("data".getBytes).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("BMP decode is real: pooled grayscale matches the encoded pixels") {
    import spark.implicits._
    // 8x8: left half black, right half white → strips [0,0,0,0,1,1,1,1]
    val img = bmpBytes(8, 8, (x, _) => if (x < 4) 0 else 255)
    val feats = Seq((1L, img)).toDF("media_id", "payload")
      .select(Multimodal.decodeImageFeatures(col("payload"), 8).as("f"))
      .collect()(0).getSeq[Float](0)
    assert(feats.size == 8)
    assert(feats.take(4).forall(v => math.abs(v) < 1e-6), feats)
    assert(feats.drop(4).forall(v => math.abs(v - 1.0f) < 1e-6), feats)
    // gradient: strict monotone strips, and a top-down BMP reads the same
    val grad = bmpBytes(16, 4, (x, _) => x * 16)
    val gf = Multimodal.bmpGrayStrips(grad, 4)
    assert(gf.sliding(2).forall(p => p(0) < p(1)), gf.toSeq)
    // a 7-wide image exercises row padding (rowBytes 24 for 21 data bytes)
    val odd = bmpBytes(7, 3, (x, y) => (x * 37 + y * 11) % 256)
    val of = Multimodal.bmpGrayStrips(odd, 7)
    val expected = (0 until 7).map(x =>
      (0 until 3).map(y => ((x * 37 + y * 11) % 256) / 255.0).sum / 3.0)
    of.toSeq.zip(expected).foreach { case (g, e) => assert(math.abs(g - e) < 1e-6) }
  }

  test("PNG/JPEG/GIF decode is real via the JDK's ImageIO") {
    import spark.implicits._
    def encoded(fmt: String, w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = px(x, y); img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
      out.toByteArray
    }
    // 8x4, left half black right half white → strips [0,0,1,1]. PNG is
    // lossless; JPEG is lossy; the JDK GIF *writer* palettizes RGB input
    // (white lands at 191), so both get loose tolerances — the structure
    // (dark left, bright right) is what proves a real decode happened.
    val cases = Seq("png" -> 1e-6, "gif" -> 0.3, "jpg" -> 0.05)
    for ((fmt, tol) <- cases) {
      val bytes = encoded(fmt, 8, 4, (x, _) => if (x < 4) 0 else 255)
      val feats = Seq((1L, bytes)).toDF("media_id", "payload")
        .select(Multimodal.decodeImageFeatures(col("payload"), 4).as("f"))
        .collect()(0).getSeq[Float](0)
      assert(feats.size == 4, fmt)
      assert(feats.take(2).forall(v => math.abs(v) < tol), s"$fmt: $feats")
      assert(feats.drop(2).forall(v => math.abs(v - 1.0f) < tol), s"$fmt: $feats")
    }
    // payloads no JDK reader claims still fall back to the stub shape
    val stub = Seq((2L, "definitely not an image".getBytes))
      .toDF("media_id", "payload")
      .select(Multimodal.decodeImageFeatures(col("payload"), 5).as("f"))
      .collect()(0).getSeq[Float](0)
    assert(stub.size == 5)
  }

  test("WAV decode is real: RMS envelope tracks amplitude per window") {
    import spark.implicits._
    // first half silence, second half full-scale square wave → [0, 0.5]
    val half = 4000
    val samples = Array.fill[Short](half)(0) ++
      Array.tabulate[Short](half)(i => if (i % 2 == 0) 16384 else -16384)
    val env = Seq((1L, wavBytes(samples))).toDF("media_id", "payload")
      .select(Multimodal.decodeAudioEnvelope(col("payload"), 2).as("e"))
      .collect()(0).getSeq[Float](0)
    assert(env.size == 2)
    assert(math.abs(env(0)) < 1e-6, env)
    assert(math.abs(env(1) - 0.5f) < 1e-3, env)
    // non-WAV payloads still fall back to the deterministic stub shape
    val stub = Seq((2L, "not a wav at all".getBytes)).toDF("media_id", "payload")
      .select(Multimodal.decodeAudioEnvelope(col("payload"), 3).as("e"))
      .collect()(0).getSeq[Float](0)
    assert(stub.size == 3)
  }

  test("8-bit WAV and AU decode for real via javax.sound.sampled") {
    import spark.implicits._
    import javax.sound.sampled._
    // silence then loud square wave, as UNSIGNED 8-bit samples
    val half = 4000
    val raw = (Array.fill[Byte](half)(128.toByte) ++
      Array.tabulate[Byte](half)(i => if (i % 2 == 0) 192.toByte else 64.toByte))
    def container(fileType: AudioFileFormat.Type): Array[Byte] = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED,
        8000f, 8, 1, 1, 8000f, false)
      val in = new AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, raw.length)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(in, fileType, out)
      out.toByteArray
    }
    for (t <- Seq(AudioFileFormat.Type.WAVE, AudioFileFormat.Type.AU)) {
      val env = Seq((1L, container(t))).toDF("media_id", "payload")
        .select(Multimodal.decodeAudioEnvelope(col("payload"), 2).as("e"))
        .collect()(0).getSeq[Float](0)
      assert(env.size == 2, t)
      assert(env(0) < 0.02, s"$t: $env")               // near-silence
      // unsigned-8 ±64 about the 128 midpoint scales to ±0.5 of full range
      assert(math.abs(env(1) - 0.5f) < 0.02, s"$t: $env")
    }
  }

  test("MP3 metadata parses for real from MPEG frame headers (no codec)") {
    import spark.implicits._
    // hand-built MPEG1 Layer III stream: 128 kbps, 44100 Hz, no padding →
    // frameLen = 1152/8 * 128000 / 44100 = 417 bytes; header FF FB 90 00
    val frameLen = 1152 / 8 * 128000 / 44100
    def frame(): Array[Byte] = {
      val f = new Array[Byte](frameLen)
      f(0) = 0xff.toByte; f(1) = 0xfb.toByte; f(2) = 0x90.toByte; f(3) = 0x00
      f
    }
    val nFrames = 5
    val bare = Array.concat(Seq.fill(nFrames)(frame()): _*)
    // an ID3v2 tag (10-byte header + 30-byte body, syncsafe size) must skip
    val id3 = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 0, 30) ++
      new Array[Byte](30) ++ bare
    for (payload <- Seq(bare, id3)) {
      val m = Multimodal.mp3Meta(payload)
      assert(m != null)
      // 5 frames × 1152/44100 s = 130.6 ms
      assert(m(0) == math.round(nFrames * 1152 * 1000.0 / 44100), m.toSeq)
      assert(math.abs(m(1) - 128) <= 1, m.toSeq) // avg bitrate ≈ nominal
      assert(m(2) == 44100 && m(3) == nFrames, m.toSeq)
    }
    // a truncated final frame (valid header, body cut off mid-frame) must
    // NOT count toward frames/duration/bitrate — truncated tails otherwise
    // skew the metadata
    val truncated = bare ++ frame().take(frameLen / 2)
    val mt = Multimodal.mp3Meta(truncated)
    assert(mt != null && mt(3) == nFrames, mt.toSeq)
    assert(mt(0) == math.round(nFrames * 1152 * 1000.0 / 44100), mt.toSeq)
    assert(math.abs(mt(1) - 128) <= 1, mt.toSeq)
    // non-MP3 bytes (incl. a lone false sync) → null, and the probe column
    // yields a typed null struct
    assert(Multimodal.mp3Meta("definitely not audio".getBytes) == null)
    assert(Multimodal.mp3Meta(Array[Byte](0xff.toByte, 0xfb.toByte)) == null)
    val rows = Seq((1L, id3), (2L, "nope".getBytes)).toDF("media_id", "payload")
      .select(col("media_id"), Multimodal.mp3MetaProbe(col("payload")).as("m"))
      .orderBy("media_id").collect()
    assert(rows(0).getStruct(1).getLong(0) == math.round(nFrames * 1152 * 1000.0 / 44100))
    assert(rows(0).getStruct(1).getLong(2) == 44100L)
    assert(rows(1).isNullAt(1))
  }

  test("native ArgMinCosine matches the per-centroid expression argmin") {
    import spark.implicits._
    // parity with the Column formulation ivfAssign used to emit (one
    // dot-product subtree per centroid): same winner for every row,
    // including non-contiguous centroid ids — the native expression maps
    // matrix position back to the caller's id space
    val rnd = new scala.util.Random(7)
    val dim = 16
    val base = (0 until 50).map(i =>
      (i * 3 + 5) -> Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
    // adversarial extras: an exact duplicate of an existing centroid under
    // a LOWER id (exact ties must keep the smallest id, like array_min over
    // (distance, id)), plus — for the NATIVE side only — a zero centroid,
    // which must rank last and never win. The Column formulation can't even
    // express the zero centroid under ANSI mode (cosine divides by a zero
    // norm → DIVIDE_BY_ZERO), which is itself part of why ivfAssign moved
    // to the native expression.
    val centroids = base :+ (1 -> base(10)._2)
    val withZero = centroids :+ (500 -> Seq.fill(dim)(0.0f))
    val vecs = (1 to 500).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("id", "v")
    val native = Similarity.ivfAssign(df, col("v"), withZero)
      .select("id", "__c").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dists = centroids.map { case (i, c) =>
      struct((lit(1.0) - Similarity.cosine(col("v"), lit(c.toArray))).as("d"),
        lit(i).as("c"))
    }
    val ref = df.withColumn("__c", array_min(array(dists: _*)).getField("c"))
      .select("id", "__c").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(native == ref)
    assert(native.values.toSet.size > 10) // sanity: assignment actually spreads
  }

  test("connected components: chains, cliques and pairs resolve to min id") {
    import spark.implicits._
    // path 1-2-3-4-5, triangle {10,11,12}, pair {20,21}
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    for (limit <- Seq(1000000L, 0L)) { // driver union-find AND star loop
      val cc = Cluster.connectedComponents(edges, localEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc == expected, s"localEdgeLimit=$limit")
    }
  }

  test("connected components: a 200-node path converges inside the round cap") {
    import spark.implicits._
    val n = 200 // adversarial for label propagation (O(diameter) rounds);
                // large-star/small-star closes it in O(log n)
    val edges = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val cc = Cluster.connectedComponents(edges, localEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length == n + 1 && cc.forall(_._2 == 0L))
  }

  test("connected components match union-find on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2).distinct
    val parent = Array.tabulate(120)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val inEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
    val expected = inEdges.groupBy(id => find(id.toInt))
      .flatMap { case (_, ids) => val m = ids.min; ids.map(_ -> m) }
    import spark.implicits._
    val cc = Cluster.connectedComponents(edges.toDF("id_a", "id_b"),
        localEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == expected)
  }

  test("dedupByPairs keeps the min id per cluster; unpaired rows survive") {
    import spark.implicits._
    val df = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (9L, "z"))
      .toDF("id", "v")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Cluster.dedupByPairs(df, col("id"), pairs).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 1L, 9L))
  }

  test("decontamination: shared 3-grams flag corpus docs, others survive") {
    import spark.implicits._
    val evalSet = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "alpha beta gamma something else entirely"), // shares "alpha beta gamma"
      (1L, "beta gamma delta plus extra words here"),   // shares "beta gamma delta"
      (2L, "alpha gamma beta delta are reordered now"), // same words, no shared 3-gram
      (3L, "")).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, col("text"), col("doc_id"),
      evalSet, col("text"), n = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == Map(0L -> 1L, 1L -> 1L))
    val clean = Dedup.decontaminate(corpus, col("text"), col("doc_id"),
      evalSet, col("text"), n = 3).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(clean == Seq(2L, 3L))
  }

  test("hash sampling: deterministic, partition-independent, nested by rate") {
    val df = spark.range(2000).toDF("id")
    def ids(d: DataFrame) = d.select("id").collect().map(_.getLong(0)).toSet
    val s20 = ids(Sampling.hashSample(df, col("id"), 0.2))
    val s50 = ids(Sampling.hashSample(df, col("id"), 0.5))
    assert(s20.subsetOf(s50)) // raising the rate only ADDS rows
    assert(ids(Sampling.hashSample(df.repartition(13), col("id"), 0.2)) == s20)
    assert(math.abs(s20.size / 2000.0 - 0.2) < 0.03)
    assert(math.abs(s50.size / 2000.0 - 0.5) < 0.03)
    assert(ids(Sampling.hashSample(df, col("id"), 0.0)).isEmpty)
    assert(ids(Sampling.hashSample(df, col("id"), 1.0)).size == 2000)
  }

  test("stratified sampling applies per-stratum rates") {
    val df = spark.range(3000).select(col("id"),
      when(col("id") % 3 === 0, "en").when(col("id") % 3 === 1, "zh")
        .otherwise("de").as("lang"))
    val out = Sampling.stratifiedSample(df, col("id"), col("lang"),
        Map("en" -> 0.8, "zh" -> 0.1), defaultRate = 0.3)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(out("en") / 1000.0 - 0.8) < 0.06)
    assert(math.abs(out.getOrElse("zh", 0L) / 1000.0 - 0.1) < 0.06)
    assert(math.abs(out("de") / 1000.0 - 0.3) < 0.06)
  }

  test("repetition signals: dup tokens, top bigram share, dup lines") {
    import spark.implicits._
    val df = Seq(
      (0L, "a a a a"),   // 1 distinct of 4 tokens; every bigram is "a a"
      (1L, "w x y z"),   // all distinct; 3 bigrams all unique
      (2L, ""),
      (3L, "l1\nl2\nl1\nl1")).toDF("id", "text")
    val r = df.select(col("id"),
        TextAnalysis.dupTokenRatio(col("text")).as("tr"),
        TextAnalysis.topBigramShare(col("text")).as("bs"),
        TextAnalysis.dupLineRatio(col("text")).as("lr")).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2), x.getDouble(3))))
      .toMap
    assert(r(0L)._1 == 0.75 && r(0L)._2 == 1.0)
    assert(r(1L)._1 == 0.0 && math.abs(r(1L)._2 - 1.0 / 3) < 1e-12)
    assert(r(2L) == ((0.0, 0.0, 0.0)))
    assert(r(3L)._3 == 0.5) // 4 lines, 2 distinct
  }

  test("native RepetitionStats matches the Column/HOF formulation") {
    import spark.implicits._
    val df = Seq((0L, "a a a a"), (1L, "w x y z"), (2L, ""), (3L, "  "),
      (4L, "a  b a  b"), (5L, "x y x y x"), (6L, "solo"),
      (7L, "t\u00e9 caf\u00e9 t\u00e9 caf\u00e9 t\u00e9")).toDF("id", "text")
    val both = df
      .withColumn("__rp", graft.functions.Repetition.stats(col("text")))
      .select(col("id"),
        TextAnalysis.dupTokenRatio(col("text")).as("tr_hof"),
        graft.functions.Repetition.dupTokenRatioFromStats(col("__rp")).as("tr_nat"),
        TextAnalysis.topBigramShare(col("text")).as("bs_hof"),
        graft.functions.Repetition.topBigramShareFromStats(col("__rp")).as("bs_nat"))
      .collect()
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"dupTokenRatio id=${r.getLong(0)}")
      assert(r.getDouble(3) == r.getDouble(4), s"topBigramShare id=${r.getLong(0)}")
    }
  }

  test("native HashedNgramBuckets matches the Column/HOF formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(1515)
    val vocab = Seq("alpha", "beta", "x", "café", "1", "", "long-token")
    val rand = (0 until 60).map(i => (100L + i,
      Seq.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")))
    val edge = Seq((0L, "a b c d"), (1L, "a a a"), (2L, ""), (3L, "   "),
      (4L, "one"), (5L, "x  y z"), (6L, "café té café"),
      (7L, " padded  both  ends "))
    val df = (edge ++ rand).toDF("id", "text")
    for (b <- Seq(1, 7, 1024, 1 << 14)) {
      val both = df.select(col("id"),
          TextAnalysis.hashedNgramBuckets(col("text"), b).as("nat"),
          TextAnalysis.hashedNgramBucketsColumnar(col("text"), b).as("hof"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"B=$b id=${r.getLong(0)} text='${df.filter(col("id") === r.getLong(0)).collect()(0).getString(1)}'")
      }
    }
  }

  test("native NGramMd5 struct pairs render to the exact hex-spec md5s") {
    import spark.implicits._
    val rnd = new scala.util.Random(5151)
    val vocab = Seq("alpha", "beta", "x", "café", "1", "", "tok-en")
    val rand = (0 until 60).map(i => (100L + i,
      Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")))
    val edge = Seq((0L, "a b c d e"), (1L, "a a a"), (2L, ""), (3L, "   "),
      (4L, "one"), (5L, "x  y z"), (6L, "café té café té café"),
      (7L, " padded  both  ends "))
    val df = (edge ++ rand).toDF("id", "text")
    for (n <- Seq(1, 2, 3, 5)) {
      val both = df.select(col("id"),
          graft.functions.NGramMd5(col("text"), n).as("nat"),
          Dedup.repeatedSpanGramsColumnar(col("text"), n).as("hex"))
        .collect()
      both.foreach { r =>
        val nat = r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => f"${p.getLong(0)}%016x${p.getLong(1)}%016x")
        assert(nat == r.getSeq[String](2), s"n=$n id=${r.getLong(0)}")
      }
    }
  }

  test("native WordNGrams matches the Column/HOF shingle formulation") {
    import spark.implicits._
    val df = Seq((0L, "a b c d"), (1L, "a a a"), (2L, ""), (3L, "   "),
      (4L, "one"), (5L, "x  y z"), (6L, "caf\u00e9 t\u00e9 caf\u00e9"),
      (7L, " padded  both  ends ")).toDF("id", "text")
    for (n <- Seq(1, 2, 3, 5)) {
      val both = df.select(col("id"),
          Dedup.shingles(col("text"), n).as("nat"),
          Dedup.shinglesColumnar(col("text"), n).as("hof"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n id=${r.getLong(0)}")
      }
    }
  }

  test("split labels: exhaustive, deterministic, weight-proportional, stable") {
    import spark.implicits._
    val keys = spark.range(4000).select(col("id"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val labeled = keys.select(col("id"),
      Sampling.splitLabel(col("id"), splits).as("split"))
    val counts = labeled.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 4000L, "every row gets exactly one label")
    assert(math.abs(counts("train") - 3200.0) < 200, counts.toString)
    assert(math.abs(counts("val") - 400.0) < 100, counts.toString)
    assert(math.abs(counts("test") - 400.0) < 100, counts.toString)
    // key-stable: the same id keeps its label after a repartition
    val a = labeled.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = keys.repartition(13)
      .select(col("id"), Sampling.splitLabel(col("id"), splits).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
  }

  test("splitLabel matches an exact local md5 model for random weight vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val keys = (0L until 500L)
    val keysDf = keys.toDF("id")
    def localUniform(key: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      java.lang.Long.parseLong(hex, 16).toDouble / 4503599627370496.0
    }
    for (trial <- 0 until 5) {
      val n = 2 + rnd.nextInt(4)
      val splits = Seq.tabulate(n)(i => s"s$i" -> (0.05 + rnd.nextDouble()))
      // the same fold arithmetic the Column builds: cumulative w/total sums
      val total = splits.map(_._2).sum
      val cum = splits.scanLeft(0.0)(_ + _._2 / total).tail
      def localLabel(u: Double): String =
        splits.init.zip(cum.init).find { case (_, upper) => u < upper }
          .map(_._1._1).getOrElse(splits.last._1)
      val got = keysDf
        .select(col("id"), Sampling.splitLabel(col("id"), splits).as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      for (k <- keys)
        assert(got(k) === localLabel(localUniform(k)),
          s"[trial $trial] key $k splits=$splits")
    }
  }

  test("shuffleShards: a stable permutation, dense per shard, feeds packSequences") {
    import spark.implicits._
    val d = (0L until 500L).map(i => (i, 10L + i % 7)).toDF("doc_id", "n")
    val out = Sampling.shuffleShards(d, col("doc_id"), nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
    // every row exactly once, shards in range, positions dense 1..|shard|
    assert(out.length === 500 && out.map(_._1).distinct.length === 500)
    assert(out.forall(t => t._2 >= 0 && t._2 < 8))
    for ((s, rows) <- out.groupBy(_._2))
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq,
        s"shard $s positions not dense")
    // stable under a different physical layout (the property rand() lacks)
    val again = Sampling.shuffleShards(d.repartition(13), col("doc_id"), 8)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    // it actually shuffles: in-shard order differs from insertion order
    val shard0 = out.filter(_._2 == 0).sortBy(_._3).map(_._1).toSeq
    assert(shard0 != shard0.sorted)
    // and composes with packSequences: pos as the doc key packs each shard
    // in shuffled order with a contiguous token stream
    val packed = Sampling.packSequences(
        Sampling.shuffleShards(d, col("doc_id"), 8)
          .select(col("pos").as("k"), col("shard").cast("string").as("sh"),
            col("n")),
        col("n"), col("k"), col("sh"), seqLen = 16)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(5)))
    for ((sh, rows) <- packed.groupBy(_._1)) {
      var stream = 0L
      for ((_, _, n, bs, off) <- rows.sortBy(_._2)) {
        assert(bs === stream / 16 && off === stream % 16, s"shard $sh")
        stream += n
      }
    }
  }

  test("token-budget rates downsample only over-budget strata") {
    import spark.implicits._
    // stratum "big" holds 1000 tokens, "small" 60: budget 100 should cut
    // big to ~10% and leave small whole
    val df = ((0 until 100).map(i => (i.toLong, "big", 10.0)) ++
      (100 until 130).map(i => (i.toLong, "small", 2.0)))
      .toDF("id", "lang", "tok")
    val rates = Sampling.tokenBudgetRates(df, col("lang"), col("tok"), 100.0)
    assert(rates("big") === 0.1)
    assert(rates("small") === 1.0)
    val kept = Sampling.stratifiedSample(df, col("id"), col("lang"), rates,
        defaultRate = 1.0)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("small") === 30L, "under-budget stratum must be kept whole")
    assert(kept.getOrElse("big", 0L) < 30L, s"big not downsampled: $kept")
  }

  test("incremental exact dedup: index admits once, across and within batches") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("dedup-idx").toString + "/i"
    Dedup.buildExactIndex(
      Seq((100L, "alpha"), (101L, "beta")).toDF("doc_id", "text"),
      col("text"), idx)
    // batch 1: one history dup, one intra-batch double, two fresh
    val b1 = Seq((1L, "alpha"), (2L, "gamma"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val s1 = Dedup.exactIncremental(b1, col("text"), col("doc_id"), idx)
      .collect().map(_.getLong(0)).sorted
    assert(s1.toSeq === Seq(2L, 4L))
    // the same batch replayed: everything is now history
    val s1b = Dedup.exactIncremental(b1, col("text"), col("doc_id"), idx)
      .collect()
    assert(s1b.isEmpty, "replayed batch must dedup to nothing")
    // batch 2: a dup of batch 1's admission plus one genuinely new text
    val b2 = Seq((10L, "gamma"), (11L, "epsilon")).toDF("doc_id", "text")
    val s2 = Dedup.exactIncremental(b2, col("text"), col("doc_id"), idx)
      .collect().map(_.getLong(0)).sorted
    assert(s2.toSeq === Seq(11L))
    // admit=false is a pure read: nothing new became history
    val s3 = Dedup.exactIncremental(
      Seq((20L, "zeta")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx, admit = false)
      .collect().map(_.getLong(0))
    assert(s3.toSeq === Seq(20L))
    val s4 = Dedup.exactIncremental(
      Seq((21L, "zeta")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx, admit = false)
      .collect().map(_.getLong(0))
    assert(s4.toSeq === Seq(21L), "admit=false must not mutate the index")
  }

  test("incremental dedup fuzz: random batch schedules match a local set model") {
    import spark.implicits._
    val rnd = new scala.util.Random(90301L)
    val words = (0 until 40).map(i => s"w$i")
    for (trial <- 0 until 3) {
      val idx = java.nio.file.Files.createTempDirectory(s"dedup-fuzz$trial")
        .toString + "/i"
      val corpusTexts = Seq.fill(10)(words(rnd.nextInt(words.size))).distinct
      Dedup.buildExactIndex(
        corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"),
        col("text"), idx)
      var model = corpusTexts.toSet
      var nextId = 1000L
      for (step <- 0 until 6) {
        val batch = Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.size)))
          .zipWithIndex.map { case (t, i) => (nextId + i, t) }
        nextId += 100
        val admitted = Dedup.exactIncremental(
          batch.toDF("doc_id", "text"), col("text"), col("doc_id"), idx)
          .collect().map(_.getLong(0)).toSet
        val expected = batch.groupBy(_._2).collect {
          case (t, rows) if !model(t) => rows.map(_._1).min
        }.toSet
        assert(admitted === expected,
          s"[trial $trial step $step] batch=$batch model=$model")
        model ++= batch.map(_._2)
      }
    }
  }

  test("incremental dedup against an empty-corpus index admits everything") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("dedup-empty").toString + "/i"
    Dedup.buildExactIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), col("text"), idx)
    val out = Dedup.exactIncremental(
      Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx)
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq === Seq(1L, 2L))
    // and the admissions became history
    val replay = Dedup.exactIncremental(
      Seq((3L, "aa")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx).collect()
    assert(replay.isEmpty)
  }

  test("incremental dedup shuffle fallback: giant-batch path matches broadcast path") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("dedup-fb").toString
    val corpus = (0 until 50).map(i => (i.toLong, s"hist$i")).toDF("doc_id", "text")
    val batch = ((100 until 160).map(i => (i.toLong, s"new${i % 40}")) ++
      (0 until 10).map(i => (1000L + i, s"hist${i * 3}"))).toDF("doc_id", "text")
    def run(threshold: Long, sub: String): Seq[Long] = {
      val idx = s"$base/$sub"
      Dedup.buildExactIndex(corpus, col("text"), idx)
      Dedup.exactIncremental(batch, col("text"), col("doc_id"), idx,
          admit = false, maxBroadcastHashes = threshold)
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    val viaBroadcast = run(4000000L, "b")
    val viaShuffle = run(0L, "s") // threshold 0 forces the shuffle-join path
    assert(viaBroadcast === viaShuffle)
    assert(viaBroadcast.nonEmpty && viaBroadcast.forall(_ < 1000L),
      s"history dups must drop, intra-batch winners survive: $viaBroadcast")
  }

  test("incremental dedup survives colliding/non-unique batch ids") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("dedup-ids").toString + "/i"
    Dedup.buildExactIndex(
      Seq((7L, "known")).toDF("doc_id", "text"), col("text"), idx)
    // id 1 appears under TWO texts (two sources sharing an id space); an
    // id-only join-back would admit the losing "bb" row via its twin's id
    val batch = Seq((1L, "aa"), (1L, "bb"), (2L, "bb"), (3L, "known"))
      .toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch, col("text"), col("doc_id"), idx,
        admit = false)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(out.toSeq === Seq((1L, "aa"), (1L, "bb")),
      s"only the winning (hash, id) pairs survive: ${out.toSeq}")
  }

  test("corpus-change rebuild is refused once the index holds admissions") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("dedup-refuse").toString + "/i"
    val c1 = Seq((1L, "aa")).toDF("doc_id", "text")
    Dedup.buildExactIndexIfMissing(c1, col("text"), col("doc_id"), idx)
    // admit a batch: the index now holds history beyond the seed corpus
    Dedup.exactIncremental(Seq((5L, "bb")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx).collect()
    // same-corpus revalidation stays a cheap no-op
    Dedup.buildExactIndexIfMissing(
      c1.filter(col("doc_id") > 0), col("text"), col("doc_id"), idx)
    // a DIFFERENT corpus at the same path must refuse to nuke the history
    val c2 = Seq((1L, "aa"), (2L, "cc")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      Dedup.buildExactIndexIfMissing(c2, col("text"), col("doc_id"), idx)
    }
    assert(e.getMessage.contains("append"), e.getMessage)
    // and the admitted history is still intact
    val replay = Dedup.exactIncremental(Seq((9L, "bb")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx, admit = false).collect()
    assert(replay.isEmpty, "admitted history must survive the refused rebuild")
  }

  test("admit crash fuzz: dying anywhere in the append lifecycle never strands admitted hashes under appends=0") {
    import spark.implicits._
    final class InjectedCrash extends RuntimeException("injected dedup crash")
    // every commit point of the admit lifecycle (meta is committed BEFORE
    // the parquet append — the asymmetry the ordering exists for)
    val points = Seq("dedup.meta-pre", "dedup.meta-tmp", "dedup.meta-moved",
      "dedup.appended")
    def seed = Seq((100L, "alpha"), (101L, "beta")).toDF("doc_id", "text")
    def batch = Seq((1L, "alpha"), (2L, "gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    def probe = Seq((50L, "gamma"), (51L, "omega")).toDF("doc_id", "text")
    def changed = Seq((100L, "alpha"), (101L, "beta"), (102L, "cc"))
      .toDF("doc_id", "text")
    def readMeta(idx: String): (String, Long) = {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(idx, "_index.txt"))
      val appends = (1 until lines.size()).map(lines.get(_).trim)
        .collectFirst { case s if s.startsWith("appends=") =>
          s.stripPrefix("appends=").toLong }.getOrElse(0L)
      (lines.get(0).trim, appends)
    }
    // the never-crashed twin: seed, admit, then a pure-read probe
    val twinIdx =
      java.nio.file.Files.createTempDirectory("dedup-crash-twin").toString + "/i"
    Dedup.buildExactIndexIfMissing(seed, col("text"), col("doc_id"), twinIdx)
    Dedup.exactIncremental(batch, col("text"), col("doc_id"), twinIdx).collect()
    val twinProbe = Dedup.exactIncremental(probe, col("text"), col("doc_id"),
      twinIdx, admit = false).collect().map(_.getLong(0)).sorted.toSeq
    val twinHashes = spark.read.parquet(twinIdx).select(col("__h"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    try {
      for (p <- points) {
        val idx = java.nio.file.Files
          .createTempDirectory(s"dedup-crash-$p").toString + "/i"
        Dedup.buildExactIndexIfMissing(seed, col("text"), col("doc_id"), idx)
        val seedHashes = spark.read.parquet(idx).count()
        Dedup.crashHook = pt => if (pt == p) throw new InjectedCrash
        intercept[InjectedCrash] {
          Dedup.exactIncremental(batch, col("text"), col("doc_id"), idx)
        }
        Dedup.crashHook = _ => ()
        // invariant A: admitted hashes are NEVER stranded under appends=0 —
        // the state where a later corpus-change rebuild would discard them
        val hashesNow = spark.read.parquet(idx).count()
        val (_, appends) = readMeta(idx)
        assert(!(hashesNow > seedHashes && appends == 0L),
          s"$p: ${hashesNow - seedHashes} admitted hashes under appends=0")
        // invariant B: whatever state the crash left, a corpus-change
        // rebuild either runs on a provably-seed-only index or refuses
        if (appends > 0L)
          intercept[IllegalStateException] {
            Dedup.buildExactIndexIfMissing(changed, col("text"), col("doc_id"),
              idx)
          }
        // recovery: a clean re-run of the same batch converges the index to
        // the never-crashed twin's state (same distinct hash set, same
        // dedup decisions for a later probe)
        Dedup.exactIncremental(batch, col("text"), col("doc_id"), idx).collect()
        val hashes = spark.read.parquet(idx).select(col("__h"))
          .distinct().collect().map(_.getString(0)).sorted.toSeq
        assert(hashes === twinHashes, s"$p: index diverged from twin")
        val probed = Dedup.exactIncremental(probe, col("text"), col("doc_id"),
          idx, admit = false).collect().map(_.getLong(0)).sorted.toSeq
        assert(probed === twinProbe, s"$p: probe decisions diverged from twin")
      }
    } finally { Dedup.crashHook = _ => () }
  }

  test("dedup index compaction: one file per prefix, decisions + meta preserved") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("dedup-compact").toString + "/i"
    val seed = (0L until 40L).map(i => (i, s"seed text $i")).toDF("doc_id", "text")
    Dedup.buildExactIndexIfMissing(seed, col("text"), col("doc_id"), idx)
    for (r <- 1 to 3) {
      val batch = (0L until 20L)
        .map(i => (1000L * r + i, s"batch $r text $i")).toDF("doc_id", "text")
      Dedup.exactIncremental(batch, col("text"), col("doc_id"), idx).collect()
    }
    def filesPerPrefix(p: String): Map[String, Int] =
      spark.read.parquet(p).inputFiles
        .groupBy(f => f.split("/").takeRight(2).head).view.mapValues(_.length).toMap
    assert(filesPerPrefix(idx).values.max > 1, "admits did not fragment")
    val dest = java.nio.file.Files
      .createTempDirectory("dedup-compact-d").toString + "/i"
    Dedup.indexCompactTo(spark, idx, dest)
    assert(filesPerPrefix(dest).values.max === 1, "compaction left fragments")
    // identical dedup decisions: a probe mixing seen and fresh texts
    val probe = Seq((1L, "seed text 3"), (2L, "batch 2 text 7"),
      (3L, "never seen")).toDF("doc_id", "text")
    def decide(p: String) = Dedup.exactIncremental(probe, col("text"),
      col("doc_id"), p, admit = false).collect().map(_.getLong(0)).sorted.toSeq
    assert(decide(dest) === Seq(3L))
    assert(decide(dest) === decide(idx))
    // meta verbatim → the corpus-change rebuild refusal survives the copy
    assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(dest, "_index.txt")) ===
      java.nio.file.Files.readString(java.nio.file.Paths.get(idx, "_index.txt")))
    intercept[IllegalStateException] {
      Dedup.buildExactIndexIfMissing(
        seed.filter(col("doc_id") < 10), col("text"), col("doc_id"), dest)
    }
  }

  test("corrupt _index.txt appends counter lands on the refusing side") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("dedup-corrupt").toString + "/i"
    val c1 = Seq((1L, "aa")).toDF("doc_id", "text")
    Dedup.buildExactIndexIfMissing(c1, col("text"), col("doc_id"), idx)
    // truncated/corrupt counter: must read as "has admissions", not 0 — a
    // spurious refusal is an explicit delete away; a missed one is data loss
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(idx, "_index.txt"), "fp=torn\nappends=1#)x\n")
    val c2 = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      Dedup.buildExactIndexIfMissing(c2, col("text"), col("doc_id"), idx)
    }
    assert(e.getMessage.contains("append"), e.getMessage)
  }

  test("admitting over a corrupt appends counter keeps the refusal (no overflow)") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("dedup-corrupt-admit").toString + "/i"
    val c1 = Seq((1L, "aa")).toDF("doc_id", "text")
    Dedup.buildExactIndexIfMissing(c1, col("text"), col("doc_id"), idx)
    // corrupt counter reads as Long.MaxValue (refusing side); an admit then
    // bumps it — a naive +1 would wrap to MinValue, and the next staleness
    // check would see appends <= 0 and silently rebuild over the admitted
    // history. The increment must saturate instead.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(idx, "_index.txt"), "fp=torn\nappends=999x9\n")
    Dedup.exactIncremental(Seq((5L, "new text")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx).collect()
    val c2 = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      Dedup.buildExactIndexIfMissing(c2, col("text"), col("doc_id"), idx)
    }
    assert(e.getMessage.contains("append"), e.getMessage)
  }

  test("cross-family corrupt appends discipline: ANN refuses and saturates identically (shared IndexMeta)") {
    // the dedup tests above pin the corrupt-counter → refusing-side rule
    // for _index.txt; this is the SAME rule on the ANN family's
    // _centroids.txt, via the shared IndexMeta implementation — the two
    // families must never drift apart on corruption semantics
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def corpus(n: Long) = (0L until n).map { i =>
      (i, Array.fill(6)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("ann-corrupt").toString + "/i"
    Similarity.ivfBuildIfMissing(corpus(24), col("embedding"),
      col("vec_id"), 4, idx)
    Similarity.ivfAppend(spark, idx,
      Seq((100L, Array.fill(6)(0.1f))).toDF("vec_id", "embedding"),
      col("embedding"), col("vec_id"))
    // mangle ONLY the counter: header + centroid body stay parseable, so
    // the index still serves probes — the corruption is in the history
    // accounting alone (the torn-write shape the atomic move prevents, but
    // a hand-edit or bitrot can still produce)
    val metaPath = java.nio.file.Paths.get(idx, "_centroids.txt")
    val mangled = java.nio.file.Files.readString(metaPath)
      .replaceFirst("appends=1", "appends=1#)x")
    assert(mangled.contains("appends=1#)x"))
    java.nio.file.Files.writeString(metaPath, mangled)
    // a further append over the corrupt counter must saturate (wrap would
    // re-arm the silent rebuild: appends <= 0)
    Similarity.ivfAppend(spark, idx,
      Seq((101L, Array.fill(6)(0.2f))).toDF("vec_id", "embedding"),
      col("embedding"), col("vec_id"))
    val after = java.nio.file.Files.readString(metaPath)
    assert(after.contains(s"appends=${Long.MaxValue}"), after.linesIterator
      .filter(_.startsWith("appends=")).mkString(","))
    // and a corpus-change rebuild refuses — the identical message family
    // as Dedup's (refusal resolved only by an explicit directory delete)
    val e = intercept[IllegalStateException] {
      Similarity.ivfBuildIfMissing(corpus(30), col("embedding"),
        col("vec_id"), 4, idx)
    }
    assert(e.getMessage.contains("append"), e.getMessage)
  }

  test("packSequences drops zero-token docs instead of emitting inverted ranges") {
    import spark.implicits._
    val d = Seq(
      (1L, "a", 3L), (2L, "a", 0L), (3L, "a", 4L) // doc 2 is empty
    ).toDF("doc_id", "shard", "n")
    val out = Sampling.packSequences(d, col("n"), col("doc_id"),
        col("shard"), seqLen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    // the empty doc is absent AND does not shift later docs' stream offsets
    assert(out === Seq(
      (1L, 3L, 0L, 0L, 0L),
      (3L, 4L, 0L, 1L, 3L)))
    assert(out.forall { case (_, _, bs, be, _) => be >= bs })
  }

  test("buildExactIndexIfMissing: fingerprint-guarded reuse and rebuild") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("dedup-guard").toString + "/i"
    val c1 = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    Dedup.buildExactIndexIfMissing(c1, col("text"), col("doc_id"), idx)
    // warm rebuild is a no-op: the index files' mtimes must not change
    val files0 = spark.read.parquet(idx).inputFiles.sorted.toSeq
    Dedup.buildExactIndexIfMissing(
      c1.filter(col("doc_id") > 0), col("text"), col("doc_id"), idx)
    assert(spark.read.parquet(idx).inputFiles.sorted.toSeq === files0)
    // a changed corpus at the same path rebuilds instead of serving stale
    val c2 = Seq((1L, "aa"), (2L, "bb"), (3L, "cc")).toDF("doc_id", "text")
    Dedup.buildExactIndexIfMissing(c2, col("text"), col("doc_id"), idx)
    val out = Dedup.exactIncremental(
      Seq((9L, "cc")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx, admit = false).collect()
    assert(out.isEmpty, "rebuilt index must know the new corpus text")
  }

  private def pqCorpus(n: Int, dim: Int, nClusters: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => x + 0.15f * rnd.nextGaussian().toFloat))
    }.toDF("id", "v")
  }

  test("IVF-PQ: full probe + full refine equals exact top-k; ANN configs keep recall") {
    val vecs = pqCorpus(n = 400, dim = 32, nClusters = 8)
    val dir = java.nio.file.Files.createTempDirectory("pq-idx").toString
    val (coarse, books) = Similarity.ivfPqBuildIfMissing(vecs, col("v"),
      col("id"), nCentroids = 8, m = 8, k = 16, indexPath = dir)
    val q = vecs.filter(col("id") === 0).select(col("v"))
      .collect()(0).getSeq[Float](0)
    val exact = Similarity.topK(vecs, col("v"), col("id"), q, k = 10,
        quantized = true)
      .select(col("id"), round(col("score"), 6).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // oracle configuration: the PQ stage only proposes candidates, the
    // re-rank is exact — identical rows to brute force
    val full = Similarity.ivfPqTopK(spark, dir, coarse, books, vecs,
        col("v"), col("id"), q, k = 10, nProbe = 8, refineK = 1000000)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq === exact.toSeq)
    // ANN configuration: 3/8 cells probed, 50 ADC candidates re-ranked
    val exactIds = exact.map(_._1).toSet
    val ann = Similarity.ivfPqTopK(spark, dir, coarse, books, vecs,
        col("v"), col("id"), q, k = 10, nProbe = 3, refineK = 50)
      .collect().map(_.getLong(0)).toSet
    assert((ann & exactIds).size >= 6, s"ANN recall too low: $ann vs $exactIds")
    // codes-only configuration (refineK <= 0): intra-cluster ordering sits
    // below PQ resolution (16 codewords/subspace code the cluster structure,
    // not the noise), so the honest property is neighborhood retrieval —
    // every ADC hit comes from the query's planted cluster (id ≡ 0 mod 8)
    val adc = Similarity.ivfPqTopK(spark, dir, coarse, books, vecs,
        col("v"), col("id"), q, k = 10, nProbe = 8, refineK = 0)
      .collect().map(_.getLong(0)).toSet
    assert(adc.size === 10 && adc.forall(_ % 8 === 0),
      s"ADC hits left the query's cluster: $adc")
  }

  test("IVF-PQ build is deterministic and fingerprint-guarded") {
    val vecs = pqCorpus(n = 200, dim = 16, nClusters = 4)
    val d1 = java.nio.file.Files.createTempDirectory("pq-a").toString
    val d2 = java.nio.file.Files.createTempDirectory("pq-b").toString
    val b1 = Similarity.ivfPqBuildIfMissing(vecs, col("v"), col("id"),
      nCentroids = 4, m = 4, k = 8, indexPath = d1)
    val b2 = Similarity.ivfPqBuildIfMissing(vecs, col("v"), col("id"),
      nCentroids = 4, m = 4, k = 8, indexPath = d2)
    assert(b1._1 === b2._1, "coarse centroids must be deterministic")
    assert(b1._2 === b2._2, "PQ codebooks must be deterministic")
    // reload from the meta file (fresh memo key via a re-read plan) matches
    val again = Similarity.ivfPqBuildIfMissing(
      vecs.filter(col("id") >= 0), col("v"), col("id"),
      nCentroids = 4, m = 4, k = 8, indexPath = d1)
    assert(again._2 === b1._2)
  }

  test("batched ANN matches per-query probes, cell for cell") {
    val vecs = pqCorpus(n = 300, dim = 32, nClusters = 6)
    val dir = java.nio.file.Files.createTempDirectory("batch-idx").toString
    val corpus = vecs.filter(col("id") >= 10)
    val centroids = Similarity.ivfBuildIfMissing(corpus, col("v"), col("id"),
      nCentroids = 6, indexPath = dir)
    val queries = vecs.filter(col("id") < 10)
    val batch = Similarity.ivfTopKBatch(spark, dir, centroids, queries,
        col("id"), col("v"), col("id"), col("v"), k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getDouble(3)))
      .groupBy(_._1)
    val qRows = queries.select(col("id"), col("v")).collect()
    for (qr <- qRows) {
      val qid = qr.getLong(0)
      val single = Similarity.ivfTopK(spark, dir, centroids, col("v"),
          col("id"), qr.getSeq[Float](1), k = 5, nProbe = 2, quantized = true)
        .select(col("id"), round(col("score"), 6).as("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val got = batch(qid).sortBy(_._2).map(t => (t._3, t._4)).toSeq
      assert(got === single.toSeq, s"query $qid: batch != per-query probe")
    }
  }

  test("batched IVF-PQ shuffle fallback: broadcastQueries=false matches and drops every query-derived broadcast") {
    val vecs = pqCorpus(n = 300, dim = 32, nClusters = 6)
    val dir = java.nio.file.Files.createTempDirectory("pqbatch-nb").toString
    val corpus = vecs.filter(col("id") >= 10)
    val queries = vecs.filter(col("id") < 10)
    val (coarse, books) = Similarity.ivfPqBuildIfMissing(corpus, col("v"),
      col("id"), nCentroids = 6, m = 4, k = 16, indexPath = dir)
    def run(b: Boolean) = Similarity.ivfPqTopKBatch(spark, dir, coarse, books,
      corpus, col("v"), col("id"), queries, col("id"), col("v"), k = 5,
      nProbe = 3, refineK = 20, broadcastQueries = b)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val withB = run(true)
    val noB = run(false)
    assert(rows(noB) === rows(withB),
      "shuffle-fallback results must equal the broadcast path")
    // the huge-batch contract: with the flag off, the ONLY broadcast hint
    // left is the bounded centroid table's cross join — the assignment,
    // candidate and query-table joins (all O(batch)) must carry none, so
    // they plan as shuffle joins for batches past executor memory
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def hintCount(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.isDefined || j.hint.rightHint.isDefined => j
      }.size
    assert(hintCount(noB) === 1, "only the centroid cross-join may broadcast")
    assert(hintCount(withB) >= 3, "small-batch path should hint all query joins")
  }

  test("batched IVF-PQ: full refine equals exact; ADC stage agrees with PqAdcVec math") {
    val vecs = pqCorpus(n = 300, dim = 32, nClusters = 6)
    val dir = java.nio.file.Files.createTempDirectory("pqbatch-idx").toString
    val corpus = vecs.filter(col("id") >= 10)
    val queries = vecs.filter(col("id") < 10)
    val (coarse, books) = Similarity.ivfPqBuildIfMissing(corpus, col("v"),
      col("id"), nCentroids = 6, m = 4, k = 16, indexPath = dir)
    // full probe + full refine: every query's result must equal the exact
    // quantized top-k
    val batch = Similarity.ivfPqTopKBatch(spark, dir, coarse, books, corpus,
        col("v"), col("id"), queries, col("id"), col("v"), k = 5,
        nProbe = 6, refineK = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1)))
      .groupBy(_._1)
    for (qr <- queries.select(col("id"), col("v")).collect()) {
      val qid = qr.getLong(0)
      val exact = Similarity.topK(corpus, col("v"), col("id"),
          qr.getSeq[Float](1), k = 5, quantized = true)
        .collect().map(_.getLong(0)).toSeq
      val got = batch(qid).sortBy(_._2).map(_._3).toSeq
      assert(got === exact, s"query $qid: batched PQ != exact top-k")
    }
    // raw ADC mode (refineK = 0): scores must equal the driver-side fused
    // sum over the codebooks for the same (codes, q̂) pairs
    val adc = Similarity.ivfPqTopKBatch(spark, dir, coarse, books, corpus,
        col("v"), col("id"), queries.filter(col("id") === 0), col("id"),
        col("v"), k = 3, nProbe = 6, refineK = 0)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val q0 = queries.filter(col("id") === 0).select(col("v"))
      .collect()(0).getSeq[Float](0)
    val qn = math.sqrt(q0.map(x => x.toDouble * x.toDouble).sum)
    val qhat = q0.map(_.toDouble / qn)
    val dsub = books.head.head.length
    val codeRows = spark.read.parquet(dir)
      .filter(col("__id").isin(adc.keys.toSeq: _*))
      .select(col("__id"), col("__codes")).collect()
    for (r <- codeRows) {
      val local = r.getSeq[Byte](1).zipWithIndex.map { case (cb, s) =>
        val c = cb + Similarity.PqCodeOffset
        books(s)(c).zipWithIndex.map { case (w, t) => w * qhat(s * dsub + t) }.sum
      }.sum
      assert(math.abs(adc(r.getLong(0)) - local) < 1e-6,
        s"ADC mismatch for id ${r.getLong(0)}")
    }
  }

  test("PqAdc (per-query LUT) and PqAdcVec (batched) score identically") {
    // the two ADC formulations must agree exactly: lut[s][j] = dot(q̂_s,
    // book_s_j), so Σ lut[s][code_s] == Σ Σ book[s][code_s][t]·q̂[s·d+t]
    // up to float association — both sum in the same subspace-major order,
    // so the agreement is bitwise
    val vecs = pqCorpus(n = 120, dim = 16, nClusters = 4)
    val books = Similarity.pqTrain(vecs, col("v"), col("id"), dim = 16,
      m = 4, k = 8)
    val rnd = new scala.util.Random(23)
    val q = Seq.fill(16)(rnd.nextGaussian().toFloat)
    val qn = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
    val qhat = q.map(_.toDouble / qn)
    val lut = books.zipWithIndex.map { case (book, s) =>
      val qs = qhat.slice(s * 4, s * 4 + 4)
      book.map(cw => cw.zip(qs).map { case (a, b) => a * b }.sum)
    }
    val off = Similarity.PqCodeOffset
    val rows = vecs
      .select(col("id"), Similarity.pqEncode(col("v"), books).as("codes"))
      .select(col("id"),
        graft.functions.PqAdc(col("codes"), lut, off).as("viaLut"),
        graft.functions.PqAdcVec(col("codes"),
          lit(qhat.toArray), books, off).as("viaVec"))
      .collect()
    for (r <- rows)
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12,
        s"ADC paths disagree for id ${r.getLong(0)}")
  }

  test("pqEncode codes are in range; PqAdc matches driver-side LUT math") {
    val vecs = pqCorpus(n = 50, dim = 16, nClusters = 4)
    val books = Similarity.pqTrain(vecs, col("v"), col("id"), dim = 16,
      m = 4, k = 8)
    val rnd = new scala.util.Random(11)
    val q = Seq.fill(16)(rnd.nextGaussian().toFloat)
    val qn = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
    val lut = books.zipWithIndex.map { case (book, s) =>
      val qs = q.map(_.toDouble / qn).slice(s * 4, s * 4 + 4)
      book.map(cw => cw.zip(qs).map { case (a, b) => a * b }.sum)
    }
    val off = Similarity.PqCodeOffset
    val rows = vecs
      .select(col("id"), Similarity.pqEncode(col("v"), books).as("codes"))
      .select(col("id"), col("codes"),
        graft.functions.PqAdc(col("codes"), lut, off).as("adc"))
      .collect()
    for (r <- rows) {
      val codes = r.getSeq[Byte](1)
      assert(codes.length === 4)
      // stored bytes are offset-encoded: code - 128
      assert(codes.forall(c => c + off >= 0 && c + off < 8),
        s"code out of range: $codes")
      val local = codes.zipWithIndex.map { case (c, s) => lut(s)(c + off) }.sum
      assert(math.abs(r.getDouble(2) - local) < 1e-12,
        s"ADC mismatch for id ${r.getLong(0)}")
    }
  }

  test("PQ k=256 codebooks encode and keep at least k=128 recall") {
    val vecs = pqCorpus(n = 500, dim = 16, nClusters = 25)
    val exact = Similarity.topK(vecs, col("v"), col("id"),
        query = vecs.filter(col("id") === 3).select(col("v"))
          .collect()(0).getSeq[Float](0), k = 10, quantized = true)
      .collect().map(_.getLong(0)).toSet
    def recallAt(k: Int): Double = {
      val dir = java.nio.file.Files.createTempDirectory(s"pq-k$k").toString
      val (coarse, books) = Similarity.ivfPqBuildIfMissing(vecs, col("v"),
        col("id"), nCentroids = 5, m = 2, k = k, indexPath = dir)
      val q = vecs.filter(col("id") === 3).select(col("v"))
        .collect()(0).getSeq[Float](0)
      // raw ADC ranking (refineK = 0): recall here isolates codebook quality
      val got = Similarity.ivfPqTopK(spark, dir, coarse, books, vecs,
          col("v"), col("id"), q, k = 10, nProbe = 5, refineK = 0)
        .collect().map(_.getLong(0)).toSet
      got.intersect(exact).size / 10.0
    }
    val r256 = recallAt(256)
    val r128 = recallAt(128)
    assert(r256 >= r128,
      s"k=256 recall $r256 must not trail k=128 recall $r128")
    assert(r256 >= 0.5, s"k=256 ADC recall implausibly low: $r256")
  }

  test("IVF(-PQ) meta survives a corpus smaller than the requested cells") {
    import spark.implicits._
    val tiny = (0 until 3).map(i =>
      (i.toLong, Array.fill(8)(i * 1.0f + 0.5f))).toDF("id", "v")
    val d1 = java.nio.file.Files.createTempDirectory("ivf-small").toString
    val c1 = Similarity.ivfBuildIfMissing(tiny, col("v"), col("id"),
      nCentroids = 16, indexPath = d1)
    assert(c1.size === 3, s"3-row corpus can seed at most 3 cells: ${c1.size}")
    // a fresh plan (new memo key) must RELOAD the meta, not silently rebuild
    val files0 = new java.io.File(d1).listFiles().map(f =>
      f.getName -> f.lastModified).toMap
    val c1b = Similarity.ivfBuildIfMissing(tiny.filter(col("id") >= 0),
      col("v"), col("id"), nCentroids = 16, indexPath = d1)
    assert(c1b === c1)
    val files1 = new java.io.File(d1).listFiles().map(f =>
      f.getName -> f.lastModified).toMap
    assert(files1 === files0, "valid small-corpus meta must not rebuild")
    // same contract for IVF-PQ
    val d2 = java.nio.file.Files.createTempDirectory("ivfpq-small").toString
    val b1 = Similarity.ivfPqBuildIfMissing(tiny, col("v"), col("id"),
      nCentroids = 16, m = 2, k = 4, indexPath = d2)
    assert(b1._1.size === 3)
    val b2 = Similarity.ivfPqBuildIfMissing(tiny.filter(col("id") >= 0),
      col("v"), col("id"), nCentroids = 16, m = 2, k = 4, indexPath = d2)
    assert(b2 === b1, "small-corpus PQ meta must reload, not rebuild")
  }

  test("vocab: tf counts every occurrence, df counts each doc once") {
    val v = TextAnalysis.vocab(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // "the" appears twice in each of docs 0,1,2 -> tf 6, df 3
    assert(v("the") === ((6L, 3L)))
    assert(v("dog") === ((2L, 2L)))   // docs 0 and 2
    assert(v("spark") === ((1L, 1L)))
    // "der" twice inside ONE doc: tf 2, df 1 — the distinction the two-stage
    // aggregation exists to get right
    assert(v("der") === ((2L, 1L)))
    assert(!v.contains(""), "empty text must not contribute an empty token")
  }

  test("tfidf keywords: corpus-wide tokens rank below doc-specific ones") {
    val kw = TextAnalysis.tfidfKeywords(docs, col("text"), col("doc_id"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(1), r.getDouble(3)))
    val byDoc = kw.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    // doc 0: "the" (tf 2) outscores even rarer tokens; "dog" (df 2) beats
    // the df-3 shared tokens — tf·idf ordering, not tf or idf alone
    assert(byDoc(0L) === Seq("the", "dog"))
    assert(byDoc.values.forall(_.size <= 2))
    for ((_, _, _, s) <- kw) assert(!s.isNaN && s >= 0.0)
    // empty doc 7 contributes nothing
    assert(!byDoc.contains(7L))
    // deterministic: a second run returns identical rows
    val again = TextAnalysis.tfidfKeywords(docs, col("text"), col("doc_id"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(1), r.getDouble(3)))
    assert(kw.sortBy(t => (t._1, t._2)) === again.sortBy(t => (t._1, t._2)))
  }

  // ---- incremental ANN index maintenance -------------------------------

  private def incCorpus(n: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val centers = Seq.fill(6)(Array.fill(12)(rnd.nextGaussian() * 5))
    (0L until n.toLong).map { i =>
      val c = centers((i % 6).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("ivfAppend: frozen-centroid append == full-probe exact over the combined corpus") {
    import spark.implicits._
    val all = incCorpus(120)
    val seed = all.filter($"vec_id" % 2 === 0)
    val delta = all.filter($"vec_id" % 2 === 1)
    val q = all.filter($"vec_id" === 1).collect()(0).getSeq[Float](1)
    val idx = java.nio.file.Files
      .createTempDirectory("ivf-inc").toString + "/i"
    val cents = Similarity.ivfBuildIfMissing(seed, col("embedding"),
      col("vec_id"), 6, idx)
    val n1 = Similarity.ivfAppend(spark, idx, delta, col("embedding"),
      col("vec_id"))
    assert(n1 === 60L)
    // full probe over the appended index == exact top-k over seed+delta
    val got = Similarity.ivfTopK(spark, idx, cents, col("embedding"),
        col("vec_id"), q, 10, nProbe = 6, quantized = true)
      .collect().map(_.getLong(0)).toSeq
    val exact = Similarity.topK(all, col("embedding"), col("vec_id"), q, 10,
      quantized = true).collect().map(_.getLong(0)).toSeq
    assert(got === exact)
    // re-running the SAME batch is a no-op (id anti-join): no new rows, no
    // duplicate ids in the index, identical probe results
    assert(Similarity.ivfAppend(spark, idx, delta, col("embedding"),
      col("vec_id")) === 0L)
    val scan = spark.read.parquet(idx)
    assert(scan.count() === 120L)
    assert(scan.select(col("vec_id")).distinct().count() === 120L)
    val again = Similarity.ivfTopK(spark, idx, cents, col("embedding"),
        col("vec_id"), q, 10, nProbe = 6, quantized = true)
      .collect().map(_.getLong(0)).toSeq
    assert(again === exact)
    // partial overlap: only the genuinely new ids land
    val more = all.filter($"vec_id" < 10) // all already present
      .unionByName(incCorpus(130).filter($"vec_id" >= 120))
    assert(Similarity.ivfAppend(spark, idx, more, col("embedding"),
      col("vec_id")) === 10L)
    assert(spark.read.parquet(idx).count() === 130L)
    // the O(batch) fast path (caller guarantees fresh ids) skips the index
    // id scan: fresh ids land identically...
    val fresh2 = incCorpus(140).filter($"vec_id" >= 130)
    assert(Similarity.ivfAppend(spark, idx, fresh2, col("embedding"),
      col("vec_id"), dedupAgainstIndex = false) === 10L)
    assert(spark.read.parquet(idx).count() === 140L)
    assert(spark.read.parquet(idx).select(col("vec_id")).distinct()
      .count() === 140L)
    // ...and the documented trade is real: a blind replay in this mode
    // DUPLICATES (which is why crashed appends retry in the default mode)
    assert(Similarity.ivfAppend(spark, idx, fresh2, col("embedding"),
      col("vec_id"), dedupAgainstIndex = false) === 10L)
    assert(spark.read.parquet(idx).count() === 150L)
    assert(spark.read.parquet(idx).select(col("vec_id")).distinct()
      .count() === 140L)
  }

  test("ivfPqAppend: frozen-codebook append == exact over the combined corpus") {
    import spark.implicits._
    val all = incCorpus(120)
    val seed = all.filter($"vec_id" % 2 === 0)
    val delta = all.filter($"vec_id" % 2 === 1)
    val q = all.filter($"vec_id" === 3).collect()(0).getSeq[Float](1)
    val idx = java.nio.file.Files
      .createTempDirectory("pq-inc").toString + "/i"
    val (coarse, books) = Similarity.ivfPqBuildIfMissing(seed,
      col("embedding"), col("vec_id"), 6, m = 4, k = 16, idx)
    assert(Similarity.ivfPqAppend(spark, idx, delta, col("embedding"),
      col("vec_id")) === 60L)
    // full probe + corpus-wide refine == exact quantized top-k (the ADC
    // stage, frozen codebooks included, only selects candidates)
    val got = Similarity.ivfPqTopK(spark, idx, coarse, books, all,
        col("embedding"), col("vec_id"), q, 10, nProbe = 6,
        refineK = 1000000, quantized = true)
      .collect().map(_.getLong(0)).toSeq
    val exact = Similarity.topK(all, col("embedding"), col("vec_id"), q, 10,
      quantized = true).collect().map(_.getLong(0)).toSeq
    assert(got === exact)
    // idempotent replay
    assert(Similarity.ivfPqAppend(spark, idx, delta, col("embedding"),
      col("vec_id")) === 0L)
    assert(spark.read.parquet(idx).count() === 120L)
  }

  test("cellHistogram: shares sum to 1 and track appends (the re-cluster monitor)") {
    import spark.implicits._
    val all = incCorpus(80)
    val seed = all.filter($"vec_id" % 2 === 0)
    val idx = java.nio.file.Files
      .createTempDirectory("ivf-hist").toString + "/i"
    Similarity.ivfBuildIfMissing(seed, col("embedding"), col("vec_id"), 4, idx)
    val h0 = Similarity.cellHistogram(spark, idx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(math.abs(h0.map(_._3).sum - 1.0) < 1e-9)
    assert(h0.map(_._2).sum === 40L)
    // ordered by share descending
    assert(h0.map(_._3).toSeq === h0.map(_._3).sortBy(-_).toSeq)
    // appends grow cells; the histogram reflects the new totals
    Similarity.ivfAppend(spark, idx, all.filter($"vec_id" % 2 === 1),
      col("embedding"), col("vec_id"))
    val h1 = Similarity.cellHistogram(spark, idx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(h1.map(_._2).sum === 80L)
    assert(math.abs(h1.map(_._3).sum - 1.0) < 1e-9)
  }

  test("ANN append fuzz: random overlapping batch schedules match a local id-set model") {
    import spark.implicits._
    val pool = incCorpus(150)
    val rnd = new scala.util.Random(67)
    for (trial <- 0 until 3) {
      val seedIds = (0L until 150L).filter(_ => rnd.nextBoolean()).take(40)
      val seed = pool.filter(col("vec_id").isin(seedIds: _*))
      val idx = java.nio.file.Files
        .createTempDirectory(s"ann-fuzz-$trial").toString + "/i"
      val cents = Similarity.ivfBuildIfMissing(seed, col("embedding"),
        col("vec_id"), 5, idx)
      // local model: the set of indexed ids
      var model = seedIds.toSet
      for (_ <- 0 until 4) {
        // random batch with arbitrary overlap against history and itself
        val ids = Seq.fill(20)(rnd.nextInt(150).toLong)
        val batch = pool.filter(col("vec_id").isin(ids.distinct: _*))
        val appended = Similarity.ivfAppend(spark, idx, batch,
          col("embedding"), col("vec_id"))
        assert(appended === (ids.toSet -- model).size,
          s"trial $trial: appended count diverged from the model")
        model ++= ids
        // full-probe top-k over the index == exact top-k over the model set
        val q = pool.filter(col("vec_id") === rnd.nextInt(150).toLong)
          .collect()(0).getSeq[Float](1)
        val got = Similarity.ivfTopK(spark, idx, cents, col("embedding"),
            col("vec_id"), q, 8, nProbe = 5, quantized = true)
          .collect().map(_.getLong(0)).toSeq
        val exact = Similarity.topK(
            pool.filter(col("vec_id").isin(model.toSeq: _*)),
            col("embedding"), col("vec_id"), q, 8, quantized = true)
          .collect().map(_.getLong(0)).toSeq
        assert(got === exact, s"trial $trial: probe diverged from model")
      }
      assert(spark.read.parquet(idx).select(col("vec_id")).distinct()
        .count() === model.size.toLong)
    }
  }

  test("streaming ANN maintenance: micro-batches append idempotently; probe == exact") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = incCorpus(90)
    val seed = all.filter($"vec_id" < 30)
    val q = all.filter($"vec_id" === 1).collect()(0).getSeq[Float](1)
    val idx = java.nio.file.Files
      .createTempDirectory("ann-stream").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("ann-stream-ckpt").toString
    val cents = Similarity.ivfBuildIfMissing(seed, col("embedding"),
      col("vec_id"), 4, idx)
    val rows = all.filter($"vec_id" >= 30).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val query = graft.streaming.AnnIndexStream.attachIvf(stream,
      col("embedding"), col("vec_id"), idx, ckpt)
    try {
      mem.addData(rows.take(30).toSeq)
      query.processAllAvailable()
      mem.addData(rows.drop(30).toSeq)
      query.processAllAvailable()
      // redelivery (at-least-once) is a no-op: same rows again
      mem.addData(rows.drop(30).toSeq)
      query.processAllAvailable()
    } finally query.stop()
    val scan = spark.read.parquet(idx)
    assert(scan.count() === 90L)
    assert(scan.select(col("vec_id")).distinct().count() === 90L)
    val got = Similarity.ivfTopK(spark, idx, cents, col("embedding"),
        col("vec_id"), q, 10, nProbe = 4, quantized = true)
      .collect().map(_.getLong(0)).toSeq
    val exact = Similarity.topK(all, col("embedding"), col("vec_id"), q, 10,
      quantized = true).collect().map(_.getLong(0)).toSeq
    assert(got === exact)
  }

  test("streaming dedup maintenance: index exactly-once, survivors at-least-once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val idx = java.nio.file.Files
      .createTempDirectory("dedup-stream").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("dedup-stream-ckpt").toString
    val hist = Seq((100L, "seed text one"), (101L, "seed text two"),
      (102L, "seed text three")).toDF("doc_id", "text")
    Dedup.buildExactIndexIfMissing(hist, col("text"), col("doc_id"), idx)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val delivered = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val query = graft.streaming.DedupIndexStream.attach(stream, col("text"),
      col("doc_id"), idx, ckpt, sink = Some(df =>
        delivered += df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq))
    try {
      // two novel texts, one re-crawl of history, one intra-batch double
      mem.addData(Seq((1L, "novel a"), (2L, "novel b"),
        (3L, "seed text one"), (4L, "novel a")))
      query.processAllAvailable()
      // one novel, one duplicate of the previous batch's admission
      mem.addData(Seq((5L, "novel c"), (6L, "novel b")))
      query.processAllAvailable()
      // replayed content (at-least-once delivery): nothing new admitted,
      // and the replayed batch's survivor set is EMPTY (their hashes are
      // in the index) — exactly the idempotence the scaladoc claims
      mem.addData(Seq((5L, "novel c"), (6L, "novel b")))
      query.processAllAvailable()
    } finally query.stop()
    assert(delivered.toSeq === Seq(Seq(1L, 2L), Seq(5L), Seq()))
    // index content: 3 seed + 3 admitted hashes, exactly once each
    val hashes = spark.read.parquet(idx).select("__h")
    assert(hashes.count() === 6L && hashes.distinct().count() === 6L)
    // a later ad-hoc pure read agrees with the stream's admitted state
    val recheck = Dedup.exactIncremental(
      Seq((9L, "novel c"), (10L, "novel d")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx, admit = false)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(recheck === Seq(10L))
  }

  test("index compaction: clustered copy answers identically, keeps meta + refusal") {
    import spark.implicits._
    val all = incCorpus(120)
    val seed = all.filter($"vec_id" % 4 === 0)
    val q = all.filter($"vec_id" === 1).collect()(0).getSeq[Float](1)
    val idx = java.nio.file.Files
      .createTempDirectory("ivf-compact").toString + "/i"
    val cents = Similarity.ivfBuildIfMissing(seed, col("embedding"),
      col("vec_id"), 4, idx)
    // three append batches fragment each touched cell
    for (r <- 1 to 3)
      Similarity.ivfAppend(spark, idx,
        all.filter($"vec_id" % 4 === r), col("embedding"), col("vec_id"))
    def filesPerCell(p: String): Map[String, Int] =
      spark.read.parquet(p).inputFiles
        .groupBy(f => f.split("/").takeRight(2).head).view.mapValues(_.length).toMap
    assert(filesPerCell(idx).values.max > 1, "appends did not fragment")
    val dest = java.nio.file.Files
      .createTempDirectory("ivf-compact-d").toString + "/i"
    Similarity.indexCompactTo(spark, idx, dest)
    assert(filesPerCell(dest).values.max === 1, "compaction left fragments")
    // identical probe results, identical meta (appends counter included)
    val a = Similarity.ivfTopK(spark, idx, cents, col("embedding"),
        col("vec_id"), q, 10, nProbe = 4, quantized = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Similarity.ivfTopK(spark, dest, cents, col("embedding"),
        col("vec_id"), q, 10, nProbe = 4, quantized = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b)
    assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(dest, "_centroids.txt")) ===
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(idx, "_centroids.txt")))
    // the compacted copy still refuses a corpus-change rebuild
    val changed = incCorpus(90).filter($"vec_id" % 4 === 0)
    intercept[IllegalStateException] {
      Similarity.ivfBuildIfMissing(changed, col("embedding"), col("vec_id"),
        4, dest)
    }
  }

  test("appended ANN history refuses a corpus-change rebuild; seed reuse still works") {
    import spark.implicits._
    val all = incCorpus(80)
    val seed = all.filter($"vec_id" % 2 === 0)
    val delta = all.filter($"vec_id" % 2 === 1)
    val idx = java.nio.file.Files
      .createTempDirectory("ivf-refuse").toString + "/i"
    Similarity.ivfBuildIfMissing(seed, col("embedding"), col("vec_id"), 4, idx)
    Similarity.ivfAppend(spark, idx, delta, col("embedding"), col("vec_id"))
    // the SEED corpus still validates (fingerprint matches the header) —
    // the warm path every later session takes
    Similarity.ivfBuildIfMissing(seed, col("embedding"), col("vec_id"), 4, idx)
    // a DIFFERENT corpus must refuse: its fingerprint mismatch no longer
    // implies staleness — rebuilding would discard the appended history
    val changed = incCorpus(90).filter($"vec_id" % 2 === 0)
    val e = intercept[IllegalStateException] {
      Similarity.ivfBuildIfMissing(changed, col("embedding"), col("vec_id"),
        4, idx)
    }
    assert(e.getMessage.contains("append"), e.getMessage)
    // same contract on the PQ side
    val pqIdx = java.nio.file.Files
      .createTempDirectory("pq-refuse").toString + "/i"
    Similarity.ivfPqBuildIfMissing(seed, col("embedding"), col("vec_id"), 4,
      m = 4, k = 8, pqIdx)
    Similarity.ivfPqAppend(spark, pqIdx, delta, col("embedding"), col("vec_id"))
    val e2 = intercept[IllegalStateException] {
      Similarity.ivfPqBuildIfMissing(changed, col("embedding"), col("vec_id"),
        4, m = 4, k = 8, pqIdx)
    }
    assert(e2.getMessage.contains("append"), e2.getMessage)
    // appending to a never-built path fails fast with guidance
    val e3 = intercept[IllegalStateException] {
      Similarity.ivfAppend(spark, idx + "-nothere", delta, col("embedding"),
        col("vec_id"))
    }
    assert(e3.getMessage.contains("build the index first"), e3.getMessage)
  }

  test("filtered batched ANN: pre-filter composes per query; no leak at nProbe 1") {
    import spark.implicits._
    val all = incCorpus(120).withColumn("label", (col("vec_id") % 5).cast("int"))
    val queries = all.filter($"vec_id" < 8)
    val corpus = all.filter($"vec_id" >= 8)
    val idx = java.nio.file.Files
      .createTempDirectory("ivf-fbatch").toString + "/i"
    val cents = Similarity.ivfBuildIfMissing(corpus, col("embedding"),
      col("vec_id"), 6, idx)
    val pred = col("label") % 2 === 0
    // full probe == exact filtered top-k, query by query
    val got = Similarity.ivfTopKBatch(spark, idx, cents, queries,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, nProbe = 6, quantized = true, extraFilter = Some(pred))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    for (qr <- queries.collect()) {
      val q = qr.getSeq[Float](1)
      val exact = Similarity.topK(corpus.filter(pred), col("embedding"),
          col("vec_id"), q, 3, quantized = true)
        .collect().map(_.getLong(0)).toSeq
      assert(got(qr.getLong(0)) === exact, s"query ${qr.getLong(0)}")
    }
    // nProbe 1: heavily pruned — results may lose recall but may NEVER
    // contain a row failing the predicate (pre-filter, not post-filter)
    val labels = corpus.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val pruned = Similarity.ivfTopKBatch(spark, idx, cents, queries,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3, nProbe = 1, quantized = true, extraFilter = Some(pred))
      .collect().map(_.getLong(1))
    assert(pruned.nonEmpty && pruned.forall(id => labels(id) % 2 == 0),
      "predicate leaked through the pruned batch scan")
  }

  test("filtered batched IVF-PQ over kept metadata columns; appends carry them") {
    import spark.implicits._
    val all = incCorpus(120).withColumn("label", (col("vec_id") % 5).cast("int"))
    val queries = all.filter($"vec_id" < 6)
    val seed = all.filter($"vec_id" >= 6 && $"vec_id" % 2 === 0)
    val delta = all.filter($"vec_id" >= 6 && $"vec_id" % 2 === 1)
    val corpus = all.filter($"vec_id" >= 6)
    val idx = java.nio.file.Files
      .createTempDirectory("pq-fbatch").toString + "/i"
    val (coarse, books) = Similarity.ivfPqBuildIfMissing(seed,
      col("embedding"), col("vec_id"), 6, m = 4, k = 16, idx,
      keep = Seq("label"))
    // appended rows must carry the kept columns too
    assert(Similarity.ivfPqAppend(spark, idx, delta, col("embedding"),
      col("vec_id")) === delta.count())
    assert(spark.read.parquet(idx).columns.toSet ===
      Set("__id", "__codes", "label", "__c"))
    val pred = col("label") % 2 === 0
    // full probe + corpus-wide refine == exact filtered top-k per query
    val got = Similarity.ivfPqTopKBatch(spark, idx, coarse, books, corpus,
        col("embedding"), col("vec_id"), queries, col("vec_id"),
        col("embedding"), k = 3, nProbe = 6, refineK = 1000000,
        quantized = true, extraFilter = Some(pred))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    for (qr <- queries.collect()) {
      val q = qr.getSeq[Float](1)
      val exact = Similarity.topK(corpus.filter(pred), col("embedding"),
          col("vec_id"), q, 3, quantized = true)
        .collect().map(_.getLong(0)).toSeq
      assert(got(qr.getLong(0)) === exact, s"query ${qr.getLong(0)}")
    }
    // no leak at nProbe 1 (single-query PQ path takes the same pre-filter)
    val labels = corpus.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val pruned = Similarity.ivfPqTopKBatch(spark, idx, coarse, books, corpus,
        col("embedding"), col("vec_id"), queries, col("vec_id"),
        col("embedding"), k = 3, nProbe = 1, refineK = 10,
        quantized = true, extraFilter = Some(pred))
      .collect().map(_.getLong(1))
    assert(pruned.nonEmpty && pruned.forall(id => labels(id) % 2 == 0),
      "predicate leaked through the pruned PQ batch scan")
    val q0 = queries.collect()(0).getSeq[Float](1)
    val single = Similarity.ivfPqTopK(spark, idx, coarse, books, corpus,
        col("embedding"), col("vec_id"), q0, 3, nProbe = 1, refineK = 10,
        quantized = true, extraFilter = Some(pred))
      .collect().map(_.getLong(0))
    assert(single.nonEmpty && single.forall(id => labels(id) % 2 == 0),
      "predicate leaked through the pruned single-query PQ scan")
  }

  test("ANN append crash fuzz: no death point strands appended rows under appends=0") {
    import spark.implicits._
    class InjectedCrash extends RuntimeException("injected")
    val all = incCorpus(60)
    val seed = all.filter($"vec_id" % 2 === 0)
    val delta = all.filter($"vec_id" % 2 === 1)
    val changed = incCorpus(70).filter($"vec_id" % 2 === 0)
    val q = all.filter($"vec_id" === 1).collect()(0).getSeq[Float](1)
    def appendsOf(idx: String): Long = {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(idx, "_centroids.txt"))
      (0 until lines.size()).map(lines.get(_).trim)
        .collectFirst { case s if s.startsWith("appends=") =>
          s.stripPrefix("appends=").toLong }.getOrElse(0L)
    }
    // never-crashed twin for convergence checks
    val twinIdx = java.nio.file.Files
      .createTempDirectory("ivf-crash-twin").toString + "/i"
    val twinCents = Similarity.ivfBuildIfMissing(seed, col("embedding"),
      col("vec_id"), 4, twinIdx)
    Similarity.ivfAppend(spark, twinIdx, delta, col("embedding"), col("vec_id"))
    val twinProbe = Similarity.ivfTopK(spark, twinIdx, twinCents,
        col("embedding"), col("vec_id"), q, 10, nProbe = 4, quantized = true)
      .collect().map(_.getLong(0)).toSeq
    val points = Seq("ann.meta-pre", "ann.meta-tmp", "ann.meta-moved",
      "ann.appended")
    try {
      for (p <- points) {
        val idx = java.nio.file.Files
          .createTempDirectory(s"ivf-crash-$p").toString + "/i"
        val cents = Similarity.ivfBuildIfMissing(seed, col("embedding"),
          col("vec_id"), 4, idx)
        val seedRows = spark.read.parquet(idx).count()
        Similarity.crashHook = pt => if (pt == p) throw new InjectedCrash
        intercept[InjectedCrash] {
          Similarity.ivfAppend(spark, idx, delta, col("embedding"),
            col("vec_id"))
        }
        Similarity.crashHook = _ => ()
        // invariant A: appended rows are NEVER stranded under appends=0 —
        // the state where a corpus-change staleness check would silently
        // rebuild over them (counter-BEFORE-append ordering)
        val rowsNow = spark.read.parquet(idx).count()
        val appends = appendsOf(idx)
        assert(!(rowsNow > seedRows && appends == 0L),
          s"$p: ${rowsNow - seedRows} appended rows under appends=0")
        // invariant B: whatever state the crash left, a corpus-change
        // rebuild either runs on a provably-seed-only index or refuses
        if (appends > 0L)
          intercept[IllegalStateException] {
            Similarity.ivfBuildIfMissing(changed, col("embedding"),
              col("vec_id"), 4, idx)
          }
        // recovery: re-running the same append converges to the twin
        Similarity.ivfAppend(spark, idx, delta, col("embedding"), col("vec_id"))
        assert(spark.read.parquet(idx).count() === 60L, s"$p: row count")
        assert(spark.read.parquet(idx).select(col("vec_id")).distinct()
          .count() === 60L, s"$p: duplicate ids after recovery")
        val probe = Similarity.ivfTopK(spark, idx, cents, col("embedding"),
            col("vec_id"), q, 10, nProbe = 4, quantized = true)
          .collect().map(_.getLong(0)).toSeq
        assert(probe === twinProbe, s"$p: probe diverged from twin")
      }
    } finally { Similarity.crashHook = _ => () }
  }

  test("ivfAppend dedups ids WITHIN a batch: a duplicated id stores one row") {
    import spark.implicits._
    val all = incCorpus(60)
    val seed = all.filter($"vec_id" < 30)
    val delta = all.filter($"vec_id" >= 30)
    val idx = java.nio.file.Files
      .createTempDirectory("ivf-intra-dup").toString + "/i"
    Similarity.ivfBuildIfMissing(seed, col("embedding"), col("vec_id"), 4, idx)
    // the batch carries every id TWICE (self-union) plus a third copy of
    // one id with a different payload — exactly one row per id may land
    val tripled = delta.unionByName(delta)
      .unionByName(incCorpus(61).filter($"vec_id" === 35))
    assert(Similarity.ivfAppend(spark, idx, tripled, col("embedding"),
      col("vec_id")) === 30L)
    val scan = spark.read.parquet(idx)
    assert(scan.count() === 60L)
    assert(scan.select(col("vec_id")).distinct().count() === 60L)
    // same invariant on the O(batch) fast path (no index scan, intra-batch
    // dedup still applies)
    val fresh = incCorpus(70).filter($"vec_id" >= 60)
    assert(Similarity.ivfAppend(spark, idx, fresh.unionByName(fresh),
      col("embedding"), col("vec_id"), dedupAgainstIndex = false) === 10L)
    assert(spark.read.parquet(idx).count() === 70L)
    assert(spark.read.parquet(idx).select(col("vec_id")).distinct()
      .count() === 70L)
  }

  test("ivfAppend shuffle fallback (maxBroadcastIds) matches the broadcast path") {
    import spark.implicits._
    val all = incCorpus(100)
    val seed = all.filter($"vec_id" < 40)
    val delta = all.filter($"vec_id" >= 30) // overlaps 30..39 with the seed
    val q = all.filter($"vec_id" === 2).collect()(0).getSeq[Float](1)
    def build(tag: String): (String, Seq[(Int, Seq[Float])]) = {
      val idx = java.nio.file.Files
        .createTempDirectory(s"ivf-fb-$tag").toString + "/i"
      (idx, Similarity.ivfBuildIfMissing(seed, col("embedding"),
        col("vec_id"), 4, idx))
    }
    val (bIdx, bCents) = build("bcast")
    val (sIdx, _) = build("shuffle")
    assert(Similarity.ivfAppend(spark, bIdx, delta, col("embedding"),
      col("vec_id")) === 60L)
    // maxBroadcastIds = 0: the explicit always-shuffle override — the
    // giant-backfill path where broadcasting the id set would OOM executors
    assert(Similarity.ivfAppend(spark, sIdx, delta, col("embedding"),
      col("vec_id"), maxBroadcastIds = 0L) === 60L)
    // identical index content and probe results on both paths
    def snap(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("__c")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(snap(sIdx) === snap(bIdx))
    val pb = Similarity.ivfTopK(spark, bIdx, bCents, col("embedding"),
        col("vec_id"), q, 10, nProbe = 4, quantized = true)
      .collect().map(_.getLong(0)).toSeq
    val ps = Similarity.ivfTopK(spark, sIdx, bCents, col("embedding"),
        col("vec_id"), q, 10, nProbe = 4, quantized = true)
      .collect().map(_.getLong(0)).toSeq
    assert(ps === pb)
    // replay through the fallback is still a no-op
    assert(Similarity.ivfAppend(spark, sIdx, delta, col("embedding"),
      col("vec_id"), maxBroadcastIds = 0L) === 0L)
    // a counted-path decision (tiny threshold) also lands identically: the
    // two-tier sizing only picks the join strategy, never the result
    val (cIdx, _) = build("counted")
    assert(Similarity.ivfAppend(spark, cIdx, delta, col("embedding"),
      col("vec_id"), maxBroadcastIds = 5L) === 60L)
    assert(snap(cIdx) === snap(bIdx))
    // PQ twin through the fallback
    val pqB = java.nio.file.Files.createTempDirectory("pq-fb-b").toString + "/i"
    val pqS = java.nio.file.Files.createTempDirectory("pq-fb-s").toString + "/i"
    Similarity.ivfPqBuildIfMissing(seed, col("embedding"), col("vec_id"), 4,
      m = 4, k = 8, pqB)
    Similarity.ivfPqBuildIfMissing(seed, col("embedding"), col("vec_id"), 4,
      m = 4, k = 8, pqS)
    assert(Similarity.ivfPqAppend(spark, pqB, delta, col("embedding"),
      col("vec_id")) === 60L)
    assert(Similarity.ivfPqAppend(spark, pqS, delta, col("embedding"),
      col("vec_id"), maxBroadcastIds = 0L) === 60L)
    def pqSnap(p: String) = spark.read.parquet(p)
      .select(col("__id"), col("__c")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(pqSnap(pqS) === pqSnap(pqB))
  }

  test("index compaction crash fuzz: half-compacted dest refuses, recompaction converges") {
    import spark.implicits._
    class InjectedCrash extends RuntimeException("injected")
    val all = incCorpus(80)
    val seed = all.filter($"vec_id" % 2 === 0)
    val delta = all.filter($"vec_id" % 2 === 1)
    val q = all.filter($"vec_id" === 1).collect()(0).getSeq[Float](1)
    val src = java.nio.file.Files
      .createTempDirectory("ivf-cfuzz-src").toString + "/i"
    val cents = Similarity.ivfBuildIfMissing(seed, col("embedding"),
      col("vec_id"), 4, src)
    Similarity.ivfAppend(spark, src, delta, col("embedding"), col("vec_id"))
    val srcProbe = Similarity.ivfTopK(spark, src, cents, col("embedding"),
        col("vec_id"), q, 10, nProbe = 4, quantized = true)
      .collect().map(_.getLong(0)).toSeq
    val srcMeta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(src, "_centroids.txt"))
    val points = Seq("ann.compact-data", "ann.meta-pre", "ann.meta-tmp",
      "ann.meta-moved", "ann.compact-done")
    try {
      for (p <- points) {
        val dest = java.nio.file.Files
          .createTempDirectory(s"ivf-cfuzz-$p").toString + "/i"
        Similarity.crashHook = pt => if (pt == p) throw new InjectedCrash
        intercept[InjectedCrash] {
          Similarity.indexCompactTo(spark, src, dest)
        }
        Similarity.crashHook = _ => ()
        // THE invariant: the dest is valid iff its meta is present — a dest
        // that would pass requireIndexComplete must already answer probes
        // identically and carry the meta verbatim; one that fails it is the
        // state an operator deletes and recompacts, never flips to
        val metaThere = java.nio.file.Files.exists(
          java.nio.file.Paths.get(dest, "_centroids.txt"))
        if (!metaThere)
          intercept[IllegalStateException] {
            Similarity.requireIndexComplete(dest)
          }
        // recovery per the blue/green contract: delete the incomplete dest,
        // recompact from the (untouched) source
        GraftDB.deleteRecursively(java.nio.file.Paths.get(dest))
        Similarity.indexCompactTo(spark, src, dest)
        Similarity.requireIndexComplete(dest)
        assert(java.nio.file.Files.readString(
          java.nio.file.Paths.get(dest, "_centroids.txt")) === srcMeta,
          s"$p: meta not carried verbatim after recovery")
        val destProbe = Similarity.ivfTopK(spark, dest, cents,
            col("embedding"), col("vec_id"), q, 10, nProbe = 4,
            quantized = true)
          .collect().map(_.getLong(0)).toSeq
        assert(destProbe === srcProbe, s"$p: probe diverged after recovery")
      }
    } finally { Similarity.crashHook = _ => () }
    // a src with no meta cannot produce a self-describing dest: refuse
    val bare = java.nio.file.Files
      .createTempDirectory("ivf-cfuzz-bare").toString + "/i"
    seed.withColumn("__c", lit(0))
      .write.partitionBy("__c").parquet(bare)
    intercept[IllegalStateException] {
      Similarity.indexCompactTo(spark, bare,
        bare + "-d")
    }
  }

  test("dedup index compaction: meta LAST, meta-less dest refuses (the disarm hazard)") {
    import spark.implicits._
    class InjectedCrash extends RuntimeException("injected")
    val corpus = (0L until 40L).map(i => (i, s"text-$i")).toDF("doc_id", "text")
    val batch = (40L until 60L).map(i => (i, s"text-${i % 50}")).toDF("doc_id", "text")
    val src = java.nio.file.Files
      .createTempDirectory("dedup-cfuzz-src").toString + "/i"
    Dedup.buildExactIndexIfMissing(corpus, col("text"), col("doc_id"), src)
    Dedup.exactIncremental(batch, col("text"), col("doc_id"), src).collect()
    val srcMeta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(src, "_index.txt"))
    assert(srcMeta.contains("appends=1"))
    val points = Seq("dedup.compact-data", "dedup.meta-pre", "dedup.meta-tmp",
      "dedup.meta-moved", "dedup.compact-done")
    try {
      for (p <- points) {
        val dest = java.nio.file.Files
          .createTempDirectory(s"dedup-cfuzz-$p").toString + "/i"
        Dedup.crashHook = pt => if (pt == p) throw new InjectedCrash
        intercept[InjectedCrash] {
          Dedup.indexCompactTo(spark, src, dest)
        }
        Dedup.crashHook = _ => ()
        val metaThere = java.nio.file.Files.exists(
          java.nio.file.Paths.get(dest, "_index.txt"))
        if (!metaThere)
          // the one state that MUST refuse: data without meta reads as
          // appends=0 and would disarm the rebuild refusal if served
          intercept[IllegalStateException] {
            Dedup.requireIndexComplete(dest)
          }
        GraftDB.deleteRecursively(java.nio.file.Paths.get(dest))
        Dedup.indexCompactTo(spark, src, dest)
        Dedup.requireIndexComplete(dest)
        assert(java.nio.file.Files.readString(
          java.nio.file.Paths.get(dest, "_index.txt")) === srcMeta,
          s"$p: meta not carried verbatim")
        // identical dedup decisions + refusal still armed on the dest
        val probe = (0L until 70L).map(i => (100L + i, s"text-$i"))
          .toDF("doc_id", "text")
        val sSrc = Dedup.exactIncremental(probe, col("text"), col("doc_id"),
            src, admit = false).select(col("doc_id"))
          .collect().map(_.getLong(0)).sorted.toSeq
        val sDest = Dedup.exactIncremental(probe, col("text"), col("doc_id"),
            dest, admit = false).select(col("doc_id"))
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(sDest === sSrc, s"$p: dedup decisions diverged")
      }
    } finally { Dedup.crashHook = _ => () }
    // a never-admitted, meta-less src compacts to an EXPLICIT
    // fp=?;appends=0 dest — the validity rule stays uniform
    val bareSrc = java.nio.file.Files
      .createTempDirectory("dedup-cfuzz-bare").toString + "/i"
    Dedup.buildExactIndex(corpus, col("text"), bareSrc)
    val bareDest = bareSrc + "-d"
    Dedup.indexCompactTo(spark, bareSrc, bareDest)
    Dedup.requireIndexComplete(bareDest)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(bareDest, "_index.txt"))
      .contains("appends=0"))
  }

  test("containmentLsh stripes > 1 returns the identical pair set") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val docs = Seq(
      (1L, base + " unique tail one"),
      (2L, base),                        // contained in 1
      (3L, "completely different text about something else entirely here"),
      (4L, base + " unique tail one"),   // duplicate of 1
      (5L, "the quick brown fox jumps")  // short quote of the shared prefix
    ).toDF("doc_id", "text")
    def run(s: Int) = Dedup.containmentLsh(docs, col("text"), col("doc_id"),
        n = 3, threshold = 0.8, numProbes = 8, stripes = s)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val s1 = run(1)
    assert(s1.nonEmpty)
    assert(run(3) === s1)
    assert(run(4) === s1)
  }

  test("maintainIndex: drift past the scan budget triggers re-cluster; stream resumes at the dest") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // seed: 60 rows split over 4 orthogonal directions (balanced cells)
    def axisRow(id: Long, axis: Int, jitter: Double): (Long, Seq[Float]) = {
      val rnd = new scala.util.Random(id * 7 + axis)
      (id, (0 until 12).map(d =>
        ((if (d == axis) 10.0 else 0.0) + rnd.nextGaussian() * jitter)
          .toFloat))
    }
    val seed = ((0L until 60L).map(i => axisRow(i, (i % 4).toInt, 0.2)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("ivf-maintain").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("ivf-maintain-ckpt").toString
    Similarity.ivfBuildIfMissing(seed, col("embedding"), col("vec_id"), 4, idx)
    // drifted ingest: three NEW directions (axis 0 + axis 4/5/6) — every
    // drifted row's nearest FROZEN centroid is the axis-0 cell, so that
    // cell crowds, but the drifted cloud is multi-modal and a fresh
    // k-means can re-balance it (the AnnDriftStress scenario)
    def driftRow(id: Long, mix: Int, jitter: Double): (Long, Array[Float]) = {
      val rnd = new scala.util.Random(id * 13 + mix)
      (id, (0 until 12).map(d =>
        ((if (d == 0) 10.0 else 0.0) + (if (d == 4 + mix) 14.0 else 0.0) +
          rnd.nextGaussian() * jitter).toFloat).toArray)
    }
    val drifted = (60L until 240L).map(i => driftRow(i, (i % 3).toInt, 0.2))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    def attach(p: String) = graft.streaming.AnnIndexStream.attachIvf(stream,
      col("embedding"), col("vec_id"), p, ckpt)
    val query = attach(idx)
    var active: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    try {
      mem.addData(drifted)
      query.processAllAvailable()
      val pfBefore = Similarity.probedFraction(spark, idx, nProbe = 1)
      assert(pfBefore > 0.6,
        f"drift did not crowd a cell (pf=$pfBefore%.2f) — fixture broken")
      // under budget: no action, stream untouched
      val noop = Similarity.maintainIndex(spark, idx, idx + "-never",
        col("embedding"), col("vec_id"), nProbe = 1, scanBudget = 0.95,
        stream = Some(query), restart = Some(attach))
      assert(!noop.rebuilt && noop.activePath === idx)
      assert(query.isActive)
      // over budget: stop -> re-cluster blue/green -> flip -> restart
      val dest = idx + "-g"
      val res = Similarity.maintainIndex(spark, idx, dest,
        col("embedding"), col("vec_id"), nProbe = 1, scanBudget = 0.6,
        stream = Some(query), restart = Some(attach))
      active = res.stream
      assert(res.rebuilt && res.activePath === dest)
      assert(res.probedFraction === pfBefore)
      assert(!query.isActive)
      assert(active.exists(_.isActive))
      // probe cost recovered: the crowded cell split under fresh centroids
      val pfAfter = Similarity.probedFraction(spark, dest, nProbe = 1)
      assert(pfAfter <= 0.6,
        f"re-cluster did not recover probe cost (pf=$pfAfter%.2f)")
      // no rows lost; appends counter carried (refusal stays armed)
      val scan = spark.read.parquet(dest)
      assert(scan.count() === 240L)
      assert(scan.select(col("vec_id")).distinct().count() === 240L)
      assert(java.nio.file.Files.readString(
          java.nio.file.Paths.get(dest, "_centroids.txt"))
        .contains("appends="))
      // the restarted stream appends NEW rows to the DEST, not the source
      mem.addData((240L until 250L).map(i => driftRow(i, 0, 0.2)))
      active.get.processAllAvailable()
      assert(spark.read.parquet(dest).count() === 250L)
      assert(spark.read.parquet(idx).count() === 240L)
    } finally {
      query.stop(); active.foreach(_.stop())
    }
  }

  test("maintainIndexPq: drifted PQ index rebuilds codebooks from the source corpus; stream resumes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // same drift fixture as the IVF twin: balanced seed, multi-modal
    // drifted ingest that crowds one frozen cell
    def axisRow(id: Long, axis: Int, jitter: Double): (Long, Seq[Float]) = {
      val rnd = new scala.util.Random(id * 7 + axis)
      (id, (0 until 12).map(d =>
        ((if (d == axis) 10.0 else 0.0) + rnd.nextGaussian() * jitter)
          .toFloat))
    }
    def driftRow(id: Long, mix: Int, jitter: Double): (Long, Array[Float]) = {
      val rnd = new scala.util.Random(id * 13 + mix)
      (id, (0 until 12).map(d =>
        ((if (d == 0) 10.0 else 0.0) + (if (d == 4 + mix) 14.0 else 0.0) +
          rnd.nextGaussian() * jitter).toFloat).toArray)
    }
    val seed = ((0L until 60L).map(i => axisRow(i, (i % 4).toInt, 0.2)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("pq-maintain").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("pq-maintain-ckpt").toString
    Similarity.ivfPqBuildIfMissing(seed, col("embedding"), col("vec_id"),
      nCentroids = 4, m = 4, k = 8, idx)
    val drifted = (60L until 240L).map(i => driftRow(i, (i % 3).toInt, 0.2))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    def attach(p: String) = graft.streaming.AnnIndexStream.attachIvfPq(stream,
      col("embedding"), col("vec_id"), p, ckpt)
    val query = attach(idx)
    var active: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    try {
      mem.addData(drifted)
      query.processAllAvailable()
      val pfBefore = Similarity.probedFraction(spark, idx, nProbe = 1)
      assert(pfBefore > 0.6,
        f"drift did not crowd a cell (pf=$pfBefore%.2f) — fixture broken")
      // maintainIndex (the IVF entry point) still refuses the PQ layout —
      // re-clustering codes from themselves would be wrong
      val eIvf = intercept[IllegalStateException] {
        Similarity.maintainIndex(spark, idx, idx + "-x",
          col("embedding"), col("vec_id"), nProbe = 1, scanBudget = 0.6)
      }
      assert(eIvf.getMessage.contains("PQ index cannot re-cluster"),
        eIvf.getMessage)
      // the full current corpus (seed + drifted appends) as the rebuild
      // source — exactly what a registered source table would provide
      val corpus = seed.unionByName(
        drifted.toDF("vec_id", "embedding")
          .select(col("vec_id"), col("embedding").cast("array<float>")))
      // under budget: no action
      val noop = Similarity.maintainIndexPq(spark, idx, idx + "-never",
        corpus, col("embedding"), col("vec_id"), nProbe = 1,
        scanBudget = 0.95, stream = Some(query), restart = Some(attach))
      assert(!noop.rebuilt && noop.activePath === idx)
      assert(query.isActive)
      // over budget: quiesce -> retrain coarse + codebooks from the
      // corpus -> blue/green flip -> restart
      val dest = idx + "-g"
      val res = Similarity.maintainIndexPq(spark, idx, dest, corpus,
        col("embedding"), col("vec_id"), nProbe = 1, scanBudget = 0.6,
        stream = Some(query), restart = Some(attach))
      active = res.stream
      assert(res.rebuilt && res.activePath === dest)
      assert(!query.isActive)
      assert(active.exists(_.isActive))
      val pfAfter = Similarity.probedFraction(spark, dest, nProbe = 1)
      assert(pfAfter <= 0.6,
        f"PQ re-cluster did not recover probe cost (pf=$pfAfter%.2f)")
      // no rows lost, appends carried, recipe (m/k) preserved in the meta
      // (the PQ index stores (__id, __codes, __c) rows)
      val scan = spark.read.parquet(dest)
      assert(scan.count() === 240L)
      assert(scan.select(col("__id")).distinct().count() === 240L)
      val meta = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dest, "_pq.txt"))
      assert(meta.contains("appends="), meta.linesIterator.toSeq.last)
      assert(meta.contains("m=4;k=8;"), meta.linesIterator.next())
      // the rebuilt index still answers probes (codes decode under the
      // fresh codebooks) and the restarted stream appends to the DEST
      val (coarse, books) = Similarity.ivfPqBuildIfMissing(corpus,
        col("embedding"), col("vec_id"), nCentroids = 4, m = 4, k = 8, dest)
      val q0 = corpus.filter(col("vec_id") === 0L)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
      val hits = Similarity.ivfPqTopK(spark, dest, coarse, books, corpus,
        col("embedding"), col("vec_id"), q0, k = 5, nProbe = 4,
        refineK = 1000).collect()
      assert(hits.length === 5 && hits.map(_.getLong(0)).contains(0L))
      mem.addData((240L until 250L).map(i => driftRow(i, 0, 0.2)))
      active.get.processAllAvailable()
      assert(spark.read.parquet(dest).count() === 250L)
      assert(spark.read.parquet(idx).count() === 240L)
    } finally {
      query.stop(); active.foreach(_.stop())
    }
  }

  test("normalizeUrl: a malformed port passes the URL through untouched") {
    import spark.implicits._
    val urls = Seq(
      "http://h:80x/p",          // malformed port -> untouched
      "http://h:80/p",           // default port -> dropped
      "http://h:8080/p",         // non-default -> kept
      "http://h:/p",             // bare colon (RFC: same as portless) -> clean
      "http://u@H.com:x80?utm_source=a&q=1#f", // malformed -> untouched
      "not a url at all")
      .toDF("u")
    val got = urls.select(UrlOps.normalizeUrl(col("u")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq(
      "http://h:80x/p",
      "http://h/p",
      "http://h:8080/p",
      "http://h/p",
      "http://u@H.com:x80?utm_source=a&q=1#f",
      "not a url at all"))
  }

  test("PSL broadcast memo keys on rule-set CONTENT, not instance") {
    val lines = Seq("co.uk", "github.io", "*.ck", "!www.ck")
    val r1 = UrlOps.parsePsl(lines)
    val r2 = UrlOps.parsePsl(lines) // separately parsed, equal content
    assert(r1 === r2 && r1.hashCode === r2.hashCode)
    import spark.implicits._
    val hosts = Seq("blog.github.io", "a.b.ck", "x.www.ck").toDF("h")
    def resolve(r: graft.functions.PslRules) = hosts
      .select(graft.functions.RegisteredDomainPsl(col("h"), r).as("d"))
      .collect().map(_.getString(0)).toSeq
    val first = resolve(r1)
    val sizeAfterFirst = graft.functions.RegisteredDomainPsl.memoSize
    assert(resolve(r2) === first)
    // the second, separately-parsed instance reused the first's broadcast
    assert(graft.functions.RegisteredDomainPsl.memoSize === sizeAfterFirst)
    assert(first === Seq("blog.github.io", "a.b.ck", "www.ck"))
  }

  // ---- repeated-span (exact-substring) dedup ----

  private def spanDocs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "a b c d e f"),     // shares "a b c", "b c d" with doc 1
      (1L, "x y a b c d z"),
      (2L, "p q r s t"),       // fully novel
      (3L, "m m m m m"),       // WITHIN-doc repeat: "m m m" occurs 3x
      (4L, "u v"),             // shorter than n: no grams, zero coverage
      (5L, "")                 // empty: excluded entirely
    ).toDF("doc_id", "text")
  }

  test("repeatedSpanStats: cross-doc and within-doc repeats, short docs") {
    val out = Dedup.repeatedSpanStats(spanDocs, col("text"), col("doc_id"), n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    assert(out === Seq(
      (0L, 6L, 4L, 0.666667),  // pos {0,1,2,3} under the two shared grams
      (1L, 7L, 4L, 0.571429),  // pos {2,3,4,5}
      (2L, 5L, 0L, 0.0),
      (3L, 5L, 5L, 1.0),       // "m m m" at starts 0,1,2 covers everything
      (4L, 2L, 0L, 0.0)))
  }

  test("stripRepeatedSpans: removes covered tokens, rejoins survivors") {
    val out = Dedup.stripRepeatedSpans(spanDocs, col("text"), col("doc_id"), n = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(out === Seq(
      (0L, "e f", 6L, 4L),
      (1L, "x y z", 7L, 4L),
      (2L, "p q r s t", 5L, 0L),
      (3L, "", 5L, 5L),        // all tokens in a repeated span → empty doc
      (4L, "u v", 2L, 0L)))
    // idempotence-ish sanity: the stripped corpus has no repeated 3-gram left
    import spark.implicits._
    val again = Dedup.repeatedSpanStats(
      out.toDF("doc_id", "text", "nt0", "rm0"), col("text"), col("doc_id"), 3)
      .agg(sum(col("dup_pos"))).collect()(0).getLong(0)
    assert(again === 0L)
  }

  // ---- hashed-ngram features: DSIR + classifier ----

  private def localMd5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def localBucket(s: String, nBuckets: Int): Long =
    java.lang.Long.parseLong(localMd5Hex(s).take(8), 16) % nBuckets

  private def localUniform53(key: String): Double =
    java.lang.Long.parseLong(localMd5Hex(key).take(13), 16).toDouble /
      4503599627370496.0

  private def localFeats(text: String): Seq[String] = {
    val t = text.trim.split(" ", -1).toSeq
    if (text.trim.isEmpty) Seq.empty
    else t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue

  test("dsirWeights matches an exact local model (buckets, lambda, coin flip)") {
    import spark.implicits._
    val d = Seq(
      (0L, "en", "good clean prose with verbs and clauses here"),
      (1L, "en", "another fine sentence of clean prose here"),
      (2L, "xx", "spam spam click here buy now spam"),
      (3L, "xx", "buy now click now spam now"),
      (4L, "en", "clean prose and spam mixed in one doc"),
      (5L, "xx", "")
    ).toDF("doc_id", "lang", "text")
    val B = 64
    val out = Sampling.dsirWeights(d, col("text"), col("doc_id"),
        col("lang") === "en", nBuckets = B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    // exact local re-derivation
    val rows = Seq(
      (0L, true, "good clean prose with verbs and clauses here"),
      (1L, true, "another fine sentence of clean prose here"),
      (2L, false, "spam spam click here buy now spam"),
      (3L, false, "buy now click now spam now"),
      (4L, true, "clean prose and spam mixed in one doc"))
    val perDoc = rows.map { case (id, tgt, tx) =>
      (id, tgt, localFeats(tx).map(localBucket(_, B))) }
    val rc = perDoc.flatMap(_._3).groupBy(identity).view.mapValues(_.size).toMap
    val tc = perDoc.filter(_._2).flatMap(_._3)
      .groupBy(identity).view.mapValues(_.size).toMap
    val rtot = rc.values.sum.toDouble
    val ttot = tc.values.sum.toDouble
    val lam: Map[Long, Long] = rc.keys.map { b =>
      b -> math.round((math.log((tc.getOrElse(b, 0) + 1) / (ttot + B)) -
                       math.log((rc(b) + 1) / (rtot + B))) * 1e6)
    }.toMap
    val expected = perDoc.map { case (id, _, bs) =>
      val sw = bs.map(lam).sum
      val raw = sw.toDouble / (bs.size * 1e6)
      (id, bs.size.toLong, round6(raw),
        localUniform53(id.toString) < 1.0 / (1.0 + math.exp(-raw)))
    }
    assert(out === expected)
    // partition-layout independence: the same rows from a 7-way shuffle
    val out7 = Sampling.dsirWeights(d.repartition(7), col("text"),
        col("doc_id"), col("lang") === "en", nBuckets = B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    assert(out7 === out)
  }

  test("classifierScore matches an exact local model; OOV buckets score 0") {
    import spark.implicits._
    val d = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "epsilon zeta eta theta iota kappa"),
      (2L, "alpha alpha alpha"),
      (3L, "")
    ).toDF("doc_id", "text")
    val B = 32
    // PARTIAL table (even buckets only) so the OOV → 0 path is exercised
    val wt = spark.range(0, B, 2).select(col("id").as("bucket"),
      ((col("id") * 37L) % 150 - 75).as("w_milli"))
    val out = TextAnalysis.classifierScore(d, col("text"), col("doc_id"),
        weights = wt, nBuckets = B, bias = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    val w: Map[Long, Long] =
      (0L until B by 2).map(b => b -> ((b * 37L) % 150 - 75)).toMap
    val expected = Seq(0L -> "alpha beta gamma delta",
        1L -> "epsilon zeta eta theta iota kappa", 2L -> "alpha alpha alpha")
      .map { case (id, tx) =>
        val bs = localFeats(tx).map(localBucket(_, B))
        val mean = bs.map(b => w.getOrElse(b, 0L)).sum.toDouble /
          (bs.size * 1e3) + 0.25
        val sc = 1.0 / (1.0 + math.exp(-mean))
        (id, bs.size.toLong, round6(sc), sc >= 0.5)
      }
    assert(out === expected)
  }

  // ---- incremental near-dup (MinHash index) ------------------------------

  /** Local exact-Jaccard model over distinct whitespace tokens. */
  private def localJac(a: String, b: String): Double = {
    def toks(s: String): Set[String] =
      if (s.trim.isEmpty) Set.empty else s.trim.split(" ").toSet
    val (ta, tb) = (toks(a), toks(b))
    if (ta.isEmpty || tb.isEmpty) 0.0
    else (ta intersect tb).size.toDouble / (ta union tb).size
  }

  /** Local survivor model: a batch row lives iff no history text and no
    * smaller-id batch text reaches the Jaccard threshold.
    */
  private def localNearDupSurvivors(hist: Seq[String],
                                    batch: Seq[(Long, String)],
                                    t: Double): Set[Long] =
    batch.collect { case (id, tx)
      if !hist.exists(h => localJac(tx, h) >= t) &&
        !batch.exists { case (id2, tx2) =>
          id2 < id && localJac(tx, tx2) >= t } => id
    }.toSet

  test("nearDupIncremental: history rejects, smaller id dominates, boundary holds both ways") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("nd-idx").toString + "/i"
    // 8 and 9 distinct tokens: one appended token scores 8/9 ≈ 0.889 < 0.9
    // and 9/10 = 0.9 — the threshold boundary from both sides
    val t8 = (1 to 8).map(i => s"w$i").mkString(" ")
    val t9 = (1 to 9).map(i => s"v$i").mkString(" ")
    val hist = Seq((100L, t8), (101L, t9), (102L, "solo doc here"))
      .toDF("doc_id", "text")
    Dedup.buildNearDupIndexIfMissing(hist, col("text"), col("doc_id"), idx,
      n = 1, numHashes = 64, bands = 32)
    val batch = Seq(
      1L -> s"$t8 extra",      // j=8/9 < 0.9 vs hist → survives
      2L -> s"$t9 extra",      // j=9/10 = 0.9 vs hist → rejected
      3L -> t8,                // exact copy of history → rejected
      4L -> "novel alpha beta gamma delta epsilon zeta eta theta iota",
      5L -> "novel alpha beta gamma delta epsilon zeta eta theta iota x2",
      //    ^ 4 dominates 5: 10 vs 11 distinct, inter 10 → j=10/11 ≥ 0.9
      6L -> "",                // zero shingles → always survives
      7L -> "   "              // whitespace-only → always survives
    ).toDF("doc_id", "text")
    val out = Dedup.nearDupIncremental(batch, col("text"), col("doc_id"),
        idx, n = 1, numHashes = 64, bands = 32, threshold = 0.9,
        admit = false)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out === Seq(1L, 4L, 6L, 7L))
    // admit mode: survivors become history; a replay keeps only the
    // shingle-less rows (near-dup similarity is undefined on them — the
    // documented pass-through)
    Dedup.nearDupIncremental(batch, col("text"), col("doc_id"), idx,
      n = 1, numHashes = 64, bands = 32, threshold = 0.9).collect()
    val replay = Dedup.nearDupIncremental(batch, col("text"), col("doc_id"),
        idx, n = 1, numHashes = 64, bands = 32, threshold = 0.9,
        admit = false)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(replay === Seq(6L, 7L), s"replay must reject admitted texts: $replay")
    // the admitted index holds ONE signature row per surviving id
    val ids = spark.read.parquet(idx).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 4L, 100L, 101L, 102L))
  }

  test("nearDupIncremental fuzz: random batch schedules match the local exact-Jaccard model") {
    import spark.implicits._
    val rnd = new scala.util.Random(151501L)
    val words = (0 until 12).map(i => s"t$i")
    def randText() =
      (0 until (3 + rnd.nextInt(6))).map(_ => words(rnd.nextInt(words.size)))
        .distinct.mkString(" ")
    for (trial <- 0 until 2) {
      val idx = java.nio.file.Files
        .createTempDirectory(s"nd-fuzz$trial").toString + "/i"
      val histTexts = Seq.fill(6)(randText()).distinct
      Dedup.buildNearDupIndexIfMissing(
        histTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
      // 0.65: with a 12-word vocab and 3–8 token docs, random pairs land on
      // BOTH sides of the threshold, so the model check is non-vacuous
      var model = histTexts
      var nextId = 1000L
      for (step <- 0 until 4) {
        val batch = Seq.fill(1 + rnd.nextInt(6))(randText())
          .zipWithIndex.map { case (t, i) => (nextId + i, t) }
        nextId += 100
        val got = Dedup.nearDupIncremental(
            batch.toDF("doc_id", "text"), col("text"), col("doc_id"), idx,
            n = 1, numHashes = 64, bands = 32, threshold = 0.65)
          .collect().map(_.getLong(0)).toSet
        val expect = localNearDupSurvivors(model, batch, 0.65)
        assert(got === expect,
          s"[trial $trial step $step] batch=$batch model=$model")
        model ++= batch.collect { case (id, tx) if expect(id) => tx }
      }
    }
  }

  test("nearDupIncremental: forced-shuffle path (maxBroadcastBandRows=0) decides identically") {
    import spark.implicits._
    val mk = () => java.nio.file.Files
      .createTempDirectory("nd-bcast").toString + "/i"
    val hist = (0L until 30L).map(i => (i, s"hist text number $i padding"))
      .toDF("doc_id", "text")
    val batch = (0L until 40L)
      .map(i => (500L + i, if (i % 3 == 0) s"hist text number ${i % 30} padding"
                 else s"fresh text number $i body")).toDF("doc_id", "text")
    val Seq(a, b) = Seq(4000000L, 0L).map { bound =>
      val idx = mk()
      Dedup.buildNearDupIndexIfMissing(hist, col("text"), col("doc_id"),
        idx, n = 1, numHashes = 64, bands = 32)
      Dedup.nearDupIncremental(batch, col("text"), col("doc_id"), idx,
          n = 1, numHashes = 64, bands = 32, threshold = 0.9,
          admit = true, maxBroadcastBandRows = bound)
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(a === b, "broadcast and shuffle paths must decide identically")
    assert(a.nonEmpty)
  }

  test("nearDupIncremental: duplicate batch ids collapse to one deterministic signature row") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("nd-dupid").toString + "/i"
    val batch = Seq((1L, "zeta yota kappa"), (1L, "alpha beta gamma"),
      (2L, "mu nu xi omicron")).toDF("doc_id", "text")
    Dedup.nearDupIncremental(batch, col("text"), col("doc_id"), idx,
      n = 1, numHashes = 64, bands = 32, threshold = 0.9).collect()
    val rows = spark.read.parquet(idx).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows === Seq(1L, 2L), s"one signature row per id: $rows")
  }

  test("near-dup index: corpus-change rebuild refuses once admits exist; recipe change rebuilds a clean seed") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("nd-refuse").toString + "/i"
    val seed = Seq((0L, "aa bb cc"), (1L, "dd ee ff")).toDF("doc_id", "text")
    Dedup.buildNearDupIndexIfMissing(seed, col("text"), col("doc_id"), idx,
      n = 1, numHashes = 64, bands = 32)
    // recipe change on a seed-only index: allowed, rebuilds
    Dedup.buildNearDupIndexIfMissing(seed, col("text"), col("doc_id"), idx,
      n = 1, numHashes = 32, bands = 16)
    Dedup.nearDupIncremental(Seq((5L, "gg hh ii")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx, n = 1, numHashes = 32, bands = 16,
      threshold = 0.9).collect()
    val changed = Seq((0L, "aa bb cc"), (2L, "zz yy xx")).toDF("doc_id", "text")
    intercept[IllegalStateException] {
      Dedup.buildNearDupIndexIfMissing(changed, col("text"), col("doc_id"),
        idx, n = 1, numHashes = 32, bands = 16)
    }
  }

  test("near-dup admit crash fuzz: no death point strands admitted signatures under appends=0") {
    import spark.implicits._
    final class InjectedCrash extends RuntimeException("injected nd crash")
    val points = Seq("dedup.meta-pre", "dedup.meta-tmp", "dedup.meta-moved",
      "dedup.nd-appended")
    def seed = Seq((100L, "alpha beta gamma delta"), (101L, "epsilon zeta"))
      .toDF("doc_id", "text")
    def batch = Seq((1L, "alpha beta gamma delta"), (2L, "fresh text one"),
      (3L, "fresh text two body")).toDF("doc_id", "text")
    def probe = Seq((50L, "fresh text one"), (51L, "omega psi chi"))
      .toDF("doc_id", "text")
    def changed = Seq((100L, "alpha beta gamma delta"), (102L, "cc dd"))
      .toDF("doc_id", "text")
    def run(p: DataFrame, idx: String, admit: Boolean) =
      Dedup.nearDupIncremental(p, col("text"), col("doc_id"), idx, n = 1,
          numHashes = 64, bands = 32, threshold = 0.9, admit = admit)
        .collect().map(_.getLong(0)).sorted.toSeq
    def readAppends(idx: String): Long = {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(idx, "_index.txt"))
      (1 until lines.size()).map(lines.get(_).trim)
        .collectFirst { case s if s.startsWith("appends=") =>
          s.stripPrefix("appends=").toLong }.getOrElse(0L)
    }
    val twinIdx = java.nio.file.Files
      .createTempDirectory("nd-crash-twin").toString + "/i"
    Dedup.buildNearDupIndexIfMissing(seed, col("text"), col("doc_id"),
      twinIdx, n = 1, numHashes = 64, bands = 32)
    run(batch, twinIdx, admit = true)
    val twinProbe = run(probe, twinIdx, admit = false)
    val twinIds = spark.read.parquet(twinIdx).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    try {
      for (p <- points) {
        val idx = java.nio.file.Files
          .createTempDirectory(s"nd-crash-$p").toString + "/i"
        Dedup.buildNearDupIndexIfMissing(seed, col("text"), col("doc_id"),
          idx, n = 1, numHashes = 64, bands = 32)
        val seedRows = spark.read.parquet(idx).count()
        Dedup.crashHook = pt => if (pt == p) throw new InjectedCrash
        intercept[InjectedCrash] { run(batch, idx, admit = true) }
        Dedup.crashHook = _ => ()
        val rowsNow = spark.read.parquet(idx).count()
        val appends = readAppends(idx)
        assert(!(rowsNow > seedRows && appends == 0L),
          s"$p: ${rowsNow - seedRows} admitted signatures under appends=0")
        if (appends > 0L)
          intercept[IllegalStateException] {
            Dedup.buildNearDupIndexIfMissing(changed, col("text"),
              col("doc_id"), idx, n = 1, numHashes = 64, bands = 32)
          }
        run(batch, idx, admit = true) // clean re-run converges to the twin
        val ids = spark.read.parquet(idx).select(col("id"))
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(ids === twinIds, s"$p: index diverged from twin")
        assert(run(probe, idx, admit = false) === twinProbe,
          s"$p: probe decisions diverged from twin")
      }
    } finally { Dedup.crashHook = _ => () }
  }

  test("near-dup index compaction: decisions + meta verbatim, meta-less dest refuses") {
    import spark.implicits._
    val src = java.nio.file.Files
      .createTempDirectory("nd-compact-src").toString + "/i"
    val seed = (0L until 30L).map(i => (i, s"seed text body $i"))
      .toDF("doc_id", "text")
    Dedup.buildNearDupIndexIfMissing(seed, col("text"), col("doc_id"), src,
      n = 1, numHashes = 64, bands = 32)
    for (r <- 1 to 3) {
      val batch = (0L until 10L)
        .map(i => (1000L * r + i, s"round $r fresh text $i"))
        .toDF("doc_id", "text")
      Dedup.nearDupIncremental(batch, col("text"), col("doc_id"), src,
        n = 1, numHashes = 64, bands = 32, threshold = 0.9).collect()
    }
    val srcMeta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(src, "_index.txt"))
    assert(srcMeta.contains("appends=3"))
    val dest = src + "-d"
    Dedup.nearDupIndexCompactTo(spark, src, dest)
    Dedup.requireIndexComplete(dest)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dest, "_index.txt")) === srcMeta)
    // fewer files, identical decisions
    assert(spark.read.parquet(dest).inputFiles.length <
      spark.read.parquet(src).inputFiles.length)
    val probe = (0L until 40L)
      .map(i => (5000L + i, if (i % 2 == 0) s"seed text body $i"
                 else s"probe novel text $i")).toDF("doc_id", "text")
    def decide(p: String) = Dedup.nearDupIncremental(probe, col("text"),
        col("doc_id"), p, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = false)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(decide(dest) === decide(src))
    // the disarm hazard: data without meta must refuse
    java.nio.file.Files.delete(java.nio.file.Paths.get(dest, "_index.txt"))
    intercept[IllegalStateException] { Dedup.requireIndexComplete(dest) }
  }

  test("streaming near-dup maintenance: index exactly-once, survivors at-least-once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val idx = java.nio.file.Files
      .createTempDirectory("nd-stream").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("nd-stream-ckpt").toString
    val histText = "seed text body alpha beta gamma delta epsilon zeta eta"
    val hist = Seq((100L, histText)).toDF("doc_id", "text")
    Dedup.buildNearDupIndexIfMissing(hist, col("text"), col("doc_id"), idx,
      n = 1, numHashes = 64, bands = 32)
    val nine = (1 to 9).map(i => s"k$i").mkString(" ")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val delivered = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val query = graft.streaming.NearDupIndexStream.attach(stream,
      col("text"), col("doc_id"), idx, ckpt,
      n = 1, numHashes = 64, bands = 32, threshold = 0.9,
      sink = Some(df =>
        delivered += df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq))
    try {
      // 1: near-dup of history (10/11 ≥ 0.9); 2: novel; 3: dominated by 2
      // (9/10 = 0.9); 4: zero shingles (pass-through, never admitted)
      mem.addData(Seq((1L, s"$histText iota"), (2L, nine),
        (3L, s"$nine k10"), (4L, "")))
      query.processAllAvailable()
      // 5: exact copy of batch 1's admission; 6: novel
      mem.addData(Seq((5L, nine), (6L, "another entirely different body")))
      query.processAllAvailable()
      // replayed content (at-least-once): 6 is now an exact copy of its
      // admitted self (j = 1.0) — nothing admitted, empty survivor set
      mem.addData(Seq((5L, nine), (6L, "another entirely different body")))
      query.processAllAvailable()
    } finally query.stop()
    assert(delivered.toSeq === Seq(Seq(2L, 4L), Seq(6L), Seq()))
    // index content: seed + the two admitted signatures, exactly once each
    val ids = spark.read.parquet(idx).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(2L, 6L, 100L))
    // a later ad-hoc pure read agrees with the stream's admitted state
    val recheck = Dedup.nearDupIncremental(
      Seq((9L, "another entirely different body"),
        (10L, "totally new content here")).toDF("doc_id", "text"),
      col("text"), col("doc_id"), idx, n = 1, numHashes = 64, bands = 32,
      threshold = 0.9, admit = false)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(recheck === Seq(10L))
  }

  test("native ArgMinProbes ≡ the Column/HOF struct-min spec, probe for probe") {
    import spark.implicits._
    val rnd = new scala.util.Random(31337L)
    val docs = ((0 until 50).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(20))(rnd.nextLong()).distinct)
    } :+ (99L, Seq(42L))).toDF("id", "hs")
    for (k <- Seq(4, 16)) {
      val native = docs
        .select(col("id"), graft.functions.ArgMinProbes(col("hs"), k).as("pr"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
      val spec = docs
        .select(col("id"), Dedup.containmentProbesColumnar(col("hs"), k).as("pr"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
      assert(native === spec, s"k=$k")
    }
  }

  test("native MinHashBands ≡ the Column/HOF signature spec, hash for hash") {
    import spark.implicits._
    val rnd = new scala.util.Random(777L)
    val words = (0 until 30).map(i => s"w$i")
    val docs = ((0 until 60).map { i =>
      (i.toLong,
        (0 until (1 + rnd.nextInt(12))).map(_ => words(rnd.nextInt(words.size)))
          .mkString(" "))
    } :+ (99L, "solo")).toDF("doc_id", "text")
    for ((k, b) <- Seq((64, 32), (32, 8), (16, 16))) {
      val native = docs
        .select(col("doc_id"), Dedup.shingles(col("text"), 1).as("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("__mh", graft.functions.MinHashBands(col("sh"), k, b))
        .select(col("doc_id"), col("__mh.hs").as("hs"), col("__mh.bnd").as("bnd"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
        .sortBy(_._1).toSeq
      val spec = Dedup.nearDupSigColumnar(docs, col("text"), col("doc_id"),
          n = 1, numHashes = k, bands = b)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
        .sortBy(_._1).toSeq
      assert(native === spec, s"k=$k b=$b")
    }
  }

  test("weightedRepeat: floor(w) copies + md5-Bernoulli extra, zero-copy rows vanish") {
    import spark.implicits._
    val df = (0L until 200L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "zh" else "de"))
      .toDF("doc_id", "lang")
    val w = when(col("lang") === "en", 2.25)
      .when(col("lang") === "zh", 0.4).otherwise(1.0)
    val got = Sampling.weightedRepeat(df, col("doc_id"), w)
      .select(col("doc_id"), col("copy"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expected = (0L until 200L).flatMap { i =>
      val wv = if (i % 3 == 0) 2.25 else if (i % 3 == 1) 0.4 else 1.0
      val n = math.floor(wv).toLong +
        (if (localUniform53(i.toString) < wv - math.floor(wv)) 1L else 0L)
      (0L until n).map(c => (i, c))
    }
    assert(got === expected)
    // both directions actually exercised: some en docs got 3 copies, some
    // zh docs vanished, de docs are exactly once
    val byDoc = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert((0L until 200L by 3L).exists(i => byDoc.getOrElse(i, 0) == 3))
    assert((1L until 200L by 3L).exists(i => !byDoc.contains(i)))
    assert((2L until 200L by 3L).forall(i => byDoc(i) == 1))
  }

  test("semanticDedup: cluster-scoped dominance, cross-cluster twins both survive") {
    import spark.implicits._
    // two orthogonal centroids; docs tilt toward one of them
    val cents = Seq(0 -> Seq(1f, 0f, 0f, 0f), 1 -> Seq(0f, 1f, 0f, 0f))
    val docs = Seq(
      (10L, Seq(0.9f, 0.1f, 0f, 0f)),   // cluster 0
      (11L, Seq(0.9f, 0.1f, 0f, 0.01f)),// cluster 0, ~identical to 10 → dropped
      (12L, Seq(0.1f, 0.9f, 0f, 0f)),   // cluster 1
      (13L, Seq(0.1f, 0.9f, 0.01f, 0f)),// cluster 1, ~identical to 12 → dropped
      // near-identical PAIR split across clusters by construction: each
      // sits exactly on its side of the axis, so cluster scoping keeps both
      (14L, Seq(0.8f, 0.75f, 0f, 0f)),  // cluster 0 (cos to e1 > e2)
      (15L, Seq(0.75f, 0.8f, 0f, 0f)),  // cluster 1
      (16L, Seq(0f, 0f, 1f, 0f))        // far from both, survives in cluster 0 or 1
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(docs, col("embedding"), col("vec_id"),
        cents, threshold = 0.95)
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(out.map(_._1) === Seq(10L, 12L, 14L, 15L, 16L),
      s"survivors wrong: $out")
    assert(out.toMap === Map(10L -> 0, 12L -> 1, 14L -> 0, 15L -> 1, 16L -> 0),
      s"clusters wrong: $out")
    // 14↔15 cosine is ≥ 0.95 — only the cluster split saved 15 (SemDeDup's
    // known cross-cluster blind spot, exercised on purpose)
    val j = Similarity.cosineQuantized(
      typedlit(Seq(0.8f, 0.75f, 0f, 0f)), typedlit(Seq(0.75f, 0.8f, 0f, 0f)))
    assert(spark.range(1).select(j.as("c")).collect()(0).getDouble(0) >= 0.95)
  }

  test("semanticDedup with one centroid equals cosineDedup (single global cluster)") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    val docs = (0L until 80L).map(i =>
      (i, Seq.fill(8)((rnd.nextGaussian()).toFloat))).toDF("vec_id", "embedding")
    val twins = docs.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val all = docs.unionByName(twins)
    val sem = Similarity.semanticDedup(all, col("embedding"), col("vec_id"),
        Seq(0 -> Seq.fill(8)(1f)), threshold = 0.6)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq
    val cos = Similarity.cosineDedup(all, col("embedding"), col("vec_id"),
        threshold = 0.6, quantized = true)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(sem === cos)
  }

  test("bandHistogram surfaces a planted hot bucket (the degeneracy early-warning)") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("nd-hist").toString + "/i"
    // 20 token-DISJOINT docs + a 10-copy identical cluster (distinct ids,
    // same text) — the cluster's identical signatures pile all 32 bands
    // into the same buckets, so the hottest bucket must hold 10 postings
    // (disjoint docs can't collide: a shared band needs shared shingles)
    val docs = ((0L until 20L).map(i =>
      (i, (0 until 5).map(j => s"u${i}t$j").mkString(" "))) ++
      (100L until 110L).map(i => (i, "the same cluster text here")))
      .toDF("doc_id", "text")
    Dedup.buildNearDupIndex(docs, col("text"), col("doc_id"), idx,
      n = 1, numHashes = 64, bands = 32)
    val top = Dedup.bandHistogram(spark, idx, topK = 5)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
    assert(top.head._2 === 10L, s"hot bucket not surfaced: ${top.toSeq}")
    // share denominator is all postings: 30 docs × 32 bands
    assert(math.abs(top.head._3 - 10.0 / (30 * 32)) < 1e-12)
  }

  test("near-dup compaction crash fuzz: half-compacted dest refuses, recompaction converges") {
    import spark.implicits._
    class InjectedCrash extends RuntimeException("injected")
    val src = java.nio.file.Files
      .createTempDirectory("nd-cfuzz-src").toString + "/i"
    val corpus = (0L until 30L).map(i => (i, s"corpus text body $i"))
      .toDF("doc_id", "text")
    Dedup.buildNearDupIndexIfMissing(corpus, col("text"), col("doc_id"), src,
      n = 1, numHashes = 64, bands = 32)
    Dedup.nearDupIncremental(
      (100L until 110L).map(i => (i, s"fresh text round $i"))
        .toDF("doc_id", "text"),
      col("text"), col("doc_id"), src, n = 1, numHashes = 64, bands = 32,
      threshold = 0.9).collect()
    val srcMeta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(src, "_index.txt"))
    assert(srcMeta.contains("appends=1"))
    val probe = (0L until 40L).map(i =>
      (5000L + i, if (i % 2 == 0) s"corpus text body $i"
       else s"novel probe text $i")).toDF("doc_id", "text")
    def decide(p: String) = Dedup.nearDupIncremental(probe, col("text"),
        col("doc_id"), p, n = 1, numHashes = 64, bands = 32,
        threshold = 0.9, admit = false)
      .collect().map(_.getLong(0)).sorted.toSeq
    val srcDecisions = decide(src)
    val points = Seq("dedup.compact-data", "dedup.meta-pre", "dedup.meta-tmp",
      "dedup.meta-moved", "dedup.compact-done")
    try {
      for (p <- points) {
        val dest = java.nio.file.Files
          .createTempDirectory(s"nd-cfuzz-$p").toString + "/i"
        Dedup.crashHook = pt => if (pt == p) throw new InjectedCrash
        intercept[InjectedCrash] {
          Dedup.nearDupIndexCompactTo(spark, src, dest)
        }
        Dedup.crashHook = _ => ()
        if (!java.nio.file.Files.exists(
            java.nio.file.Paths.get(dest, "_index.txt")))
          // data without meta reads appends=0 — must refuse (the disarm
          // hazard, same invariant as the exact index)
          intercept[IllegalStateException] {
            Dedup.requireIndexComplete(dest)
          }
        GraftDB.deleteRecursively(java.nio.file.Paths.get(dest))
        Dedup.nearDupIndexCompactTo(spark, src, dest)
        Dedup.requireIndexComplete(dest)
        assert(java.nio.file.Files.readString(
          java.nio.file.Paths.get(dest, "_index.txt")) === srcMeta,
          s"$p: meta not carried verbatim")
        assert(decide(dest) === srcDecisions, s"$p: decisions diverged")
      }
    } finally { Dedup.crashHook = _ => () }
  }

  test("dedup maintainIndex: fragmentation past bound → blue/green compact, stream resumes, no rows lost") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val idx = java.nio.file.Files
      .createTempDirectory("nd-maint").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("nd-maint-ckpt").toString
    val seed = (0L until 50L).map(i => (i, s"seed corpus text $i"))
      .toDF("doc_id", "text")
    Dedup.buildNearDupIndexIfMissing(seed, col("text"), col("doc_id"), idx,
      n = 1, numHashes = 64, bands = 32)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    def attachAt(path: String) = graft.streaming.NearDupIndexStream.attach(
      mem.toDF().toDF("doc_id", "text"), col("text"), col("doc_id"),
      path, ckpt, n = 1, numHashes = 64, bands = 32, threshold = 0.9)
    val q0 = attachAt(idx)
    try {
      for (r <- 1 to 3) {
        // namespaced tokens: "round 1 doc 2" and "round 2 doc 1" would be
        // the same token SET (j = 1.0) and the engine would rightly dedup
        mem.addData((0L until 40L).map(i => (1000L * r + i, s"round r$r doc i$i")))
        q0.processAllAvailable()
      }
    } finally if (q0.isActive) () // stopped by maintainIndex below
    // under-bound pass: no action, stream untouched
    val pass0 = Dedup.maintainIndex(spark, idx, idx + "-d0",
      maxFilesPerPrefix = 64, stream = Some(q0))
    assert(!pass0.compacted && pass0.activePath === idx &&
      pass0.stream.contains(q0))
    assert(pass0.maxFilesPerPrefix > 1, "admits did not fragment")
    // over-bound pass: quiesce → compact → verify → restart at the dest
    val dest = idx + "-d1"
    val res = Dedup.maintainIndex(spark, idx, dest, maxFilesPerPrefix = 1,
      stream = Some(q0), restart = Some(p => attachAt(p)))
    assert(res.compacted && res.activePath === dest && res.stream.isDefined)
    assert(!q0.isActive, "old stream must be stopped")
    // meta (appends counter) carried; fragmentation actually fixed
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dest, "_index.txt")).contains("appends=3"))
    val perPrefix = spark.read.parquet(dest).inputFiles
      .groupBy(f => f.split("/").takeRight(2).head).values.map(_.length).max
    assert(perPrefix === 1, s"dest still fragmented: $perPrefix")
    // no rows lost, and the restarted stream keeps admitting INTO THE DEST
    val q1 = res.stream.get
    try {
      assert(spark.read.parquet(dest).count() ===
        spark.read.parquet(idx).count())
      mem.addData(Seq((9000L, "post compact novel doc")))
      q1.processAllAvailable()
    } finally q1.stop()
    val ids = spark.read.parquet(dest).select(col("id"))
      .collect().map(_.getLong(0))
    assert(ids.contains(9000L), "restarted stream not admitting into dest")
    assert(ids.length === 50 + 120 + 1)
  }

  // ---- incremental containment (quotation) dedup --------------------------

  /** Local exact-containment model over distinct whitespace tokens. */
  private def localContainment(a: String, b: String): Double = {
    def toks(s: String): Set[String] =
      if (s.trim.isEmpty) Set.empty else s.trim.split(" ").toSet
    val (ta, tb) = (toks(a), toks(b))
    if (ta.isEmpty || tb.isEmpty) 0.0
    else (ta intersect tb).size.toDouble / math.min(ta.size, tb.size)
  }

  private def localContainmentSurvivors(hist: Seq[String],
                                        batch: Seq[(Long, String)],
                                        t: Double): Set[Long] =
    batch.collect { case (id, tx)
      if !hist.exists(h => localContainment(tx, h) >= t) &&
        !batch.exists { case (id2, tx2) =>
          id2 < id && localContainment(tx, tx2) >= t } => id
    }.toSet

  test("containmentIncremental: both quote directions reject, dominance, replay, purity") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("cn-idx").toString + "/i"
    val longDoc = (1 to 20).map(i => s"L$i").mkString(" ")
    val shortDoc = "s1 s2 s3"
    val hist = Seq((100L, longDoc), (101L, shortDoc)).toDF("doc_id", "text")
    Dedup.buildContainmentIndexIfMissing(hist, col("text"), col("doc_id"),
      idx, n = 1, numProbes = 16)
    val batch = Seq(
      1L -> (1 to 5).map(i => s"L$i").mkString(" "), // quotes hist long: c=1 → rejected (side 1)
      2L -> s"$shortDoc pad1 pad2 pad3 pad4 pad5",   // CONTAINS hist short: c=1 → rejected (side 2)
      3L -> "fresh alpha beta gamma delta",          // novel → survives
      4L -> "zz1 zz2 zz3 zz4 zz5 zz6",               // novel → survives
      5L -> "zz1 zz2 zz3",                           // quoted by batch 4 (c=1), 4 < 5 → rejected
      6L -> ""                                       // zero shingles → passes
    ).toDF("doc_id", "text")
    def run(admit: Boolean) = Dedup.containmentIncremental(batch,
        col("text"), col("doc_id"), idx, n = 1, threshold = 0.95,
        numProbes = 16, admit = admit)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(run(admit = false) === Seq(3L, 4L, 6L))
    // admit=false was a pure read
    assert(run(admit = false) === Seq(3L, 4L, 6L))
    run(admit = true)
    // replay: admitted texts reject themselves (c = 1); empties pass
    assert(run(admit = false) === Seq(6L))
    val ids = spark.read.parquet(s"$idx/docs").select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(3L, 4L, 100L, 101L))
  }

  test("containmentIncremental fuzz: random schedules match the local model; shuffle path agrees") {
    import spark.implicits._
    val rnd = new scala.util.Random(262626L)
    val words = (0 until 14).map(i => s"c$i")
    def randText() =
      (0 until (2 + rnd.nextInt(7))).map(_ => words(rnd.nextInt(words.size)))
        .distinct.mkString(" ")
    for (trial <- 0 until 2) {
      val idx = java.nio.file.Files
        .createTempDirectory(s"cn-fuzz$trial").toString + "/i"
      val histTexts = Seq.fill(6)(randText()).distinct
      Dedup.buildContainmentIndexIfMissing(
        histTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), idx, n = 1, numProbes = 16)
      var model = histTexts
      var nextId = 1000L
      for (step <- 0 until 4) {
        val batch = Seq.fill(1 + rnd.nextInt(6))(randText())
          .zipWithIndex.map { case (t, i) => (nextId + i, t) }
        nextId += 100
        // short random docs over a small vocab sit on BOTH sides of 0.75
        val got = Dedup.containmentIncremental(
            batch.toDF("doc_id", "text"), col("text"), col("doc_id"), idx,
            n = 1, threshold = 0.75, numProbes = 16)
          .collect().map(_.getLong(0)).toSet
        val expect = localContainmentSurvivors(model, batch, 0.75)
        assert(got === expect,
          s"[trial $trial step $step] batch=$batch model=$model")
        model ++= batch.collect { case (id, tx) if expect(id) => tx }
      }
    }
    // forced-shuffle path decides identically (fresh index, same shapes)
    val idxA = java.nio.file.Files
      .createTempDirectory("cn-bcast").toString + "/i"
    val idxB = java.nio.file.Files
      .createTempDirectory("cn-shuf").toString + "/i"
    val hist = (0L until 25L).map(i => (i, s"h${i}a h${i}b h${i}c h${i}d"))
      .toDF("doc_id", "text")
    val batch = (0L until 30L).map(i =>
      (500L + i, if (i % 3 == 0) s"h${i % 25}a h${i % 25}b"
       else s"n${i}a n${i}b n${i}c")).toDF("doc_id", "text")
    val out = Seq(idxA -> 4000000L, idxB -> 0L).map { case (ix, bound) =>
      Dedup.buildContainmentIndexIfMissing(hist, col("text"), col("doc_id"),
        ix, n = 1, numProbes = 16)
      Dedup.containmentIncremental(batch, col("text"), col("doc_id"), ix,
          n = 1, threshold = 0.95, numProbes = 16, admit = true,
          maxBroadcastRows = bound)
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(out.head === out.last)
    assert(out.head.nonEmpty)
  }

  test("containment admit crash fuzz: post-first ordering makes every replay converge") {
    import spark.implicits._
    final class InjectedCrash extends RuntimeException("injected cn crash")
    val points = Seq("dedup.meta-pre", "dedup.meta-tmp", "dedup.meta-moved",
      "dedup.cn-post", "dedup.cn-docs")
    def seed = Seq((100L, "alpha beta gamma delta epsilon"),
      (101L, "zeta eta theta")).toDF("doc_id", "text")
    def batch = Seq((1L, "alpha beta gamma"), (2L, "fresh one two three"),
      (3L, "other body here now")).toDF("doc_id", "text")
    def probe = Seq((50L, "fresh one two"), (51L, "omega psi chi"))
      .toDF("doc_id", "text")
    def changed = Seq((100L, "alpha beta gamma delta epsilon"),
      (102L, "cc dd")).toDF("doc_id", "text")
    def run(p: DataFrame, idx: String, admit: Boolean) =
      Dedup.containmentIncremental(p, col("text"), col("doc_id"), idx,
          n = 1, threshold = 0.95, numProbes = 16, admit = admit)
        .collect().map(_.getLong(0)).sorted.toSeq
    def readAppends(idx: String): Long = {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(idx, "_index.txt"))
      (1 until lines.size()).map(lines.get(_).trim)
        .collectFirst { case s if s.startsWith("appends=") =>
          s.stripPrefix("appends=").toLong }.getOrElse(0L)
    }
    val twinIdx = java.nio.file.Files
      .createTempDirectory("cn-crash-twin").toString + "/i"
    Dedup.buildContainmentIndexIfMissing(seed, col("text"), col("doc_id"),
      twinIdx, n = 1, numProbes = 16)
    run(batch, twinIdx, admit = true)
    val twinProbe = run(probe, twinIdx, admit = false)
    val twinIds = spark.read.parquet(s"$twinIdx/docs").select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    try {
      for (p <- points) {
        val idx = java.nio.file.Files
          .createTempDirectory(s"cn-crash-$p").toString + "/i"
        Dedup.buildContainmentIndexIfMissing(seed, col("text"),
          col("doc_id"), idx, n = 1, numProbes = 16)
        val seedDocs = spark.read.parquet(s"$idx/docs").count()
        Dedup.crashHook = pt => if (pt == p) throw new InjectedCrash
        intercept[InjectedCrash] { run(batch, idx, admit = true) }
        Dedup.crashHook = _ => ()
        val docsNow = spark.read.parquet(s"$idx/docs").count()
        val appends = readAppends(idx)
        assert(!(docsNow > seedDocs && appends == 0L),
          s"$p: admitted docs stranded under appends=0")
        if (appends > 0L)
          intercept[IllegalStateException] {
            Dedup.buildContainmentIndexIfMissing(changed, col("text"),
              col("doc_id"), idx, n = 1, numProbes = 16)
          }
        run(batch, idx, admit = true) // clean replay converges
        val ids = spark.read.parquet(s"$idx/docs").select(col("id"))
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(ids === twinIds, s"$p: docs diverged from twin: $ids")
        assert(run(probe, idx, admit = false) === twinProbe,
          s"$p: probe decisions diverged from twin")
      }
    } finally { Dedup.crashHook = _ => () }
  }

  test("containment index compaction: postings rebuilt from docs, decisions + meta verbatim") {
    import spark.implicits._
    val src = java.nio.file.Files
      .createTempDirectory("cn-compact").toString + "/i"
    val seed = (0L until 20L).map(i => (i, s"x${i}a x${i}b x${i}c x${i}d"))
      .toDF("doc_id", "text")
    Dedup.buildContainmentIndexIfMissing(seed, col("text"), col("doc_id"),
      src, n = 1, numProbes = 16)
    for (r <- 1 to 3)
      Dedup.containmentIncremental(
        (0L until 8L).map(i => (1000L * r + i, s"f$r${i}a f$r${i}b f$r${i}c"))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), src, n = 1, threshold = 0.95,
        numProbes = 16).collect()
    val srcMeta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(src, "_index.txt"))
    assert(srcMeta.contains("appends=3"))
    val dest = src + "-d"
    Dedup.containmentIndexCompactTo(spark, src, dest)
    Dedup.requireIndexComplete(dest)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dest, "_index.txt")) === srcMeta)
    // postings derivable from docs: same count after dedup, fewer files
    assert(spark.read.parquet(s"$dest/post").count() ===
      spark.read.parquet(s"$src/post").select(col("ph"), col("hid"))
        .distinct().count())
    assert(spark.read.parquet(s"$dest/post").inputFiles.length <
      spark.read.parquet(s"$src/post").inputFiles.length)
    val probe = (0L until 30L).map(i =>
      (5000L + i, if (i % 2 == 0) s"x${i}a x${i}b" else s"nv${i}q nv${i}r"))
      .toDF("doc_id", "text")
    def decide(p: String) = Dedup.containmentIncremental(probe, col("text"),
        col("doc_id"), p, n = 1, threshold = 0.95, numProbes = 16,
        admit = false)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(decide(dest) === decide(src))
    // the sentinel: data without meta refuses
    java.nio.file.Files.delete(java.nio.file.Paths.get(dest, "_index.txt"))
    intercept[IllegalStateException] { Dedup.requireIndexComplete(dest) }
  }

  test("streaming containment maintenance: index exactly-once, survivors at-least-once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val idx = java.nio.file.Files
      .createTempDirectory("cn-stream").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("cn-stream-ckpt").toString
    val hist = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    Dedup.buildContainmentIndexIfMissing(hist, col("text"), col("doc_id"),
      idx, n = 1, numProbes = 16)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val delivered = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val query = graft.streaming.ContainmentIndexStream.attach(
      mem.toDF().toDF("doc_id", "text"), col("text"), col("doc_id"),
      idx, ckpt, n = 1, threshold = 0.95, numProbes = 16,
      sink = Some(df =>
        delivered += df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq))
    try {
      // 1: quotes history (c = 1); 2: novel; 3: quoted BY 2 (2 < 3); 4: empty
      mem.addData(Seq((1L, "alpha beta gamma"), (2L, "k1 k2 k3 k4 k5"),
        (3L, "k1 k2"), (4L, "")))
      query.processAllAvailable()
      // 5: quotes batch-1's admission; 6: novel
      mem.addData(Seq((5L, "k3 k4"), (6L, "m1 m2 m3")))
      query.processAllAvailable()
      // replay (at-least-once): nothing admitted, empty survivor set
      mem.addData(Seq((5L, "k3 k4"), (6L, "m1 m2 m3")))
      query.processAllAvailable()
    } finally query.stop()
    assert(delivered.toSeq === Seq(Seq(2L, 4L), Seq(6L), Seq()))
    val ids = spark.read.parquet(s"$idx/docs").select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(2L, 6L, 100L))
  }

  test("maintainIndex detects the containment layout: both subtables compact, stream resumes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val idx = java.nio.file.Files
      .createTempDirectory("cn-maint").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("cn-maint-ckpt").toString
    val seed = (0L until 30L).map(i => (i, s"s${i}a s${i}b s${i}c"))
      .toDF("doc_id", "text")
    Dedup.buildContainmentIndexIfMissing(seed, col("text"), col("doc_id"),
      idx, n = 1, numProbes = 8)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    def attachAt(path: String) = graft.streaming.ContainmentIndexStream.attach(
      mem.toDF().toDF("doc_id", "text"), col("text"), col("doc_id"),
      path, ckpt, n = 1, threshold = 0.95, numProbes = 8)
    val q0 = attachAt(idx)
    for (r <- 1 to 3) {
      mem.addData((0L until 20L).map(i => (1000L * r + i, s"f${r}_${i}a f${r}_${i}b")))
      q0.processAllAvailable()
    }
    val res = Dedup.maintainIndex(spark, idx, idx + "-d",
      maxFilesPerPrefix = 1, stream = Some(q0), restart = Some(p => attachAt(p)))
    assert(res.compacted && !q0.isActive && res.stream.isDefined)
    val dest = res.activePath
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dest, "_index.txt")).contains("appends=3"))
    // both subtables exist at the dest, row-complete
    assert(spark.read.parquet(s"$dest/docs").count() === 90L)
    val q1 = res.stream.get
    try {
      mem.addData(Seq((9000L, "brand new content entirely")))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(s"$dest/docs").select(col("id"))
      .collect().map(_.getLong(0)).contains(9000L))
  }

  test("contaminationFractionReport and decontaminateFraction match the local model") {
    import spark.implicits._
    val eval = Seq((0L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "aa bb cc dd ee"),       // all 3 trigrams contaminated → frac 1
      (11L, "aa bb cc xx yy zz"),    // 1 of 4 trigrams → 0.25 < 0.3
      (12L, "qq aa bb cc dd rr ss"), // 2 of 5 → 0.4 ≥ 0.3
      (13L, "totally novel text body here"),
      (14L, "aa bb")                 // < 3 tokens: no gram, always survives
    ).toDF("doc_id", "text")
    val rep = Dedup.contaminationFractionReport(corpus, col("text"),
        col("doc_id"), eval, col("text"), n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    assert(rep === Seq((10L, 3, 3L, 1.0), (11L, 4, 1L, 0.25),
      (12L, 5, 2L, 0.4)))
    val kept = Dedup.decontaminateFraction(corpus, col("text"), col("doc_id"),
        eval, col("text"), n = 3, minFraction = 0.3)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(11L, 13L, 14L))
  }

  test("phRangePredicate: gap selection is unsigned across the sign boundary") {
    // xxhash64 probes span the full signed Long range: the true widest gap
    // here crosses the sign boundary and exceeds 2^63, so SIGNED gap
    // arithmetic overflows it negative and would split at the tiny
    // high-end gap instead — leaving one range spanning nearly the whole
    // hash space (correct coverage, zero row-group skipping)
    val a = Long.MinValue + 10
    val b = Long.MaxValue - 20
    val c = Long.MaxValue - 10
    val prev = sys.props.get("graft.containmentProbeFilterRanges")
    sys.props("graft.containmentProbeFilterRanges") = "2"
    try {
      val sql = Dedup.phRangePredicate(Array(a, b, c)).toString
      // unsigned selection splits between a and b: a stays a point range,
      // b..c become one tight range — NOT the signed-buggy split at (b, c)
      assert(sql.contains(s"=(ph, ${a}L)") && sql.contains(s">=(ph, ${b}L)"),
        s"expected point range at $a + range starting at $b in: $sql")
      assert(!sql.contains(s">=(ph, ${a}L)"),
        s"signed-overflow split: a near-full-space range from $a in: $sql")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.containmentProbeFilterRanges") = v
        case None => sys.props.remove("graft.containmentProbeFilterRanges")
      }
    }
  }

  test("PersistCache: registering sites stay under 75% of the FIFO cap") {
    // the r13-r15 crosstab drift recurs mechanically if cache-registering
    // call sites outgrow the cap (FIFO round-robin eviction turns every
    // rerun into a recompute). This tripwire counts the SOURCE-level sites;
    // adding one past the bound means bumping PersistCache.maxEntries (and
    // re-checking driver memory headroom), not shipping silent churn.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src", "main", "scala")
    val sites = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.toString.endsWith("PersistCache.scala"))
      .map(p => java.nio.file.Files.readString(p))
      .map(s => "PersistCache\\.(persist|persistTagged|register)\\(".r.findAllIn(s).size)
      .sum
    assert(sites > 0, "site scan found nothing — path layout changed?")
    val bound = graft.PersistCache.maxEntries * 3 / 4
    assert(sites <= bound,
      s"$sites PersistCache registering sites exceed 75% of the cap " +
        s"(${graft.PersistCache.maxEntries}); bump maxEntries or drop a site")
  }

  // ---- incremental admits pay for the batch, not the index --------------

  /** 30-token docs over a 600-word vocabulary: distinct texts share few
    * trigrams, and appending one word keeps a copy's trigram Jaccard at
    * 28/29 and its containment at 1.
    */
  private def admitDocs(seed: Long, ids: Range): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i.toLong, Seq.fill(30)(s"w${rnd.nextInt(600)}").mkString(" ")))
  }

  /** A batch against `hist`: exact copies, near copies, an intra-batch
    * duplicate pair and fresh docs, with ids from `from`.
    */
  private def admitBatch(hist: Seq[(Long, String)], from: Long,
                         seed: Long): Seq[(Long, String)] = {
    val fresh = admitDocs(seed, 0 until 20).map { case (i, t) => (from + i, t) }
    fresh ++ Seq(
      (from + 100, hist(3)._2), (from + 101, hist(7)._2 + " dup"),
      (from + 102, fresh(0)._2), (from + 103, hist(11)._2 + " extra"))
  }

  private val admitOps: Seq[(String, (DataFrame, String, Long) => DataFrame,
                            (DataFrame, String) => Unit)] = Seq(
    ("exact",
      (b, idx, bound) => Dedup.exactIncremental(b, col("text"), col("doc_id"), idx,
        maxBroadcastHashes = bound),
      (c, idx) => Dedup.buildExactIndexIfMissing(c, col("text"), col("doc_id"), idx)),
    ("near-dup",
      (b, idx, bound) => Dedup.nearDupIncremental(b, col("text"), col("doc_id"), idx,
        n = 3, numHashes = 64, bands = 32, threshold = 0.9, maxBroadcastBandRows = bound),
      (c, idx) => Dedup.buildNearDupIndexIfMissing(c, col("text"), col("doc_id"), idx,
        n = 3, numHashes = 64, bands = 32)),
    ("containment",
      (b, idx, bound) => Dedup.containmentIncremental(b, col("text"), col("doc_id"), idx,
        n = 3, threshold = 0.95, numProbes = 16, maxBroadcastRows = bound),
      (c, idx) => Dedup.buildContainmentIndexIfMissing(c, col("text"), col("doc_id"), idx,
        n = 3, numProbes = 16)))

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  /** Index data files by parent dir (`docs/__hp=3`, `__hp=3f`, …). */
  private def filesByPrefix(idx: String): Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toSeq.groupBy(p => idx + "/" + java.nio.file.Paths.get(idx)
        .relativize(p.getParent).toString)
      .map { case (d, ps) => d -> ps.map(_.toString).toSet }
    finally s.close()
  }

  test("incremental admits launch no listing or schema-inference job over a many-prefix index") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("admit-jobs").toString
    val hist = admitDocs(71L, 0 until 400)
    val corpus = hist.toDF("doc_id", "text")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for (((name, admit, build), k) <- admitOps.zipWithIndex) {
      val idx = s"$base/$k"
      build(corpus, idx)
      // a first admit adds one file per touched prefix, so the second runs
      // over more than 32 prefix dirs (exact: up to 256; containment: 64
      // postings dirs) or, for near-dup's 32 dirs, more than 32 files
      ids(admit(admitBatch(hist, 1000L, 5L).toDF("doc_id", "text"), idx, 4000000L))
      assert(filesByPrefix(idx).size > 32 || filesByPrefix(idx).values.map(_.size).sum > 32,
        s"$name: the index must exceed the parallel-listing threshold")
      val batch = admitBatch(hist, 2000L, 6L).toDF("doc_id", "text")
      // (description, SQL execution id, stage names) per job
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val p = Option(j.properties)
          def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
          jobs.add((prop("spark.job.description"), prop("spark.sql.execution.id"),
            j.stageInfos.map(_.name).mkString(";")))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        ids(admit(batch, idx, 4000000L))
        // listener delivery is async: wait until the count is stable
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(150)
          val now = jobs.size
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val all = jobs.asScala.toSeq
      val listing = all.filter(_._1.startsWith("Listing leaf files"))
      // schema inference runs outside any SQL execution, from the reader
      // (call site `parquet at …`), and carries no description
      val inference = all.filter(j => j._1.isEmpty && j._2.isEmpty &&
        j._3.startsWith("parquet at"))
      if (listing.nonEmpty || inference.nonEmpty)
        offenders += s"$name launched ${listing.size} listing and " +
          s"${inference.size} schema-inference jobs: ${(listing ++ inference).map(_._3)}"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("incremental admits: index-free returned frame, one file per touched prefix, fallback agrees") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("admit-out").toString
    val hist = admitDocs(72L, 0 until 300)
    val corpus = hist.toDF("doc_id", "text")
    val batch = admitBatch(hist, 1000L, 8L).toDF("doc_id", "text")
    for (((name, admit, build), k) <- admitOps.zipWithIndex) {
      val idx = s"$base/small$k"
      build(corpus, idx)
      val before = filesByPrefix(idx)
      val out = admit(batch, idx, 4000000L)
      val idxUri = new java.io.File(idx).toURI.getPath
      val scansIndex = out.queryExecution.analyzed.exists {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toUri.getPath.startsWith(idxUri))
            case _ => false
          }
        case _ => false
      }
      assert(!scansIndex, s"$name: the returned frame still holds a relation under the index")
      val first = ids(out)
      assert(first === ids(out), s"$name: the returned frame must be stable after the append")
      // copies of history and the intra-batch duplicate drop, fresh docs stay
      assert(!first.contains(1100L) && !first.contains(1102L) && first.contains(1000L),
        s"$name: $first")
      if (name != "exact") assert(!first.contains(1101L) && !first.contains(1103L), name)
      val after = filesByPrefix(idx)
      val added = after.map { case (d, fs) => d -> (fs -- before.getOrElse(d, Set.empty)).size }
        .filter(_._2 > 0)
      assert(added.nonEmpty, s"$name admitted nothing")
      assert(added.values.forall(_ == 1),
        s"$name wrote more than one file into a prefix: ${added.filter(_._2 > 1)}")
      // the forced shuffle fallback decides the same on a twin index
      val twin = s"$base/shuffle$k"
      build(corpus, twin)
      assert(ids(admit(batch, twin, 0L)) === first,
        s"$name: the shuffle fallback must return the small path's survivors")
    }
  }
}
