package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-18 OPTIMIZATION-round pins: every change in this round must
  * keep query results bit-identical, so each internals change gets a
  * parity test against the retained reference implementation.
  */
class Opt18Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("BPE native kernel == HOF reference on the fixture corpus " +
      "(per-doc n_ws_tokens / n_bpe_tokens / n_chars)") {
    val fast = TextAnalysis.textBpeEncode(spark, dir)
      .collect().map(_.toSeq).toSet
    // reference path recomputes merges itself — same corpus, same list
    val slow = TextAnalysis
      .bpeEncodedDocsHofReference(spark, dir, TextAnalysis.BpeMerges)
      .drop("lang")
      .withColumn("compression",
        when(col("n_bpe_tokens") === 0, lit(0.0))
          .otherwise(round(col("n_chars").cast("double") /
            col("n_bpe_tokens"), 4)))
      .collect().map(_.toSeq).toSet
    assert(fast == slow, "native BPE kernel diverged from the HOF chain")
  }

  test("BPE native kernel == HOF chain on adversarial tokens (line " +
      "terminators the regex wrap skips, supplementary code points, " +
      "empty tokens, multi-space runs)") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val (s1, s2) = ("\u0001", "\u0002")
    // tokens containing the five Java-regex line terminators (which
    // `(.)` does NOT wrap), a 4-byte supplementary char, combining
    // marks, and empty strings from doubled separators
    val docs = Seq(
      "ab\ncd ef\rgh xy p q r s",
      "emoji😀tail  double  space",
      "", " ", "a b a b ab ab",
      "\n \r lone").toDF("text")
    val merges = Seq((1, "a", "b", 9L), (2, "ab", "ab", 5L))
    def chain(c: org.apache.spark.sql.Column) =
      merges.foldLeft(c) { case (acc, (_, l, r, _)) =>
        replace(acc, lit(s1 + l + s2 + s1 + r + s2), lit(s1 + l + r + s2))
      }
    val sepLit = lit(s1)
    val ref = docs
      .withColumn("enc", transform(graft.functions.TextFunctions
        .tokens(col("text")),
        tk => chain(regexp_replace(tk, "(.)", s1 + "$1" + s2))))
      .select(col("text"),
        aggregate(col("enc"), lit(0L), (acc, e) =>
          acc + (length(e) - length(replace(e, sepLit, lit("")))))
          .as("m"),
        aggregate(col("enc"), lit(0L), (acc, e) =>
          acc + (length(replace(e, sepLit, lit(""))) -
            (length(e) - length(replace(e, sepLit, lit(""))))))
          .as("c"))
      .collect().map(_.toSeq).toSet
    val searches = typedLit(merges.map { case (_, l, r, _) =>
      s1 + l + s2 + s1 + r + s2 })
    val repls = typedLit(merges.map { case (_, l, r, _) =>
      s1 + l + r + s2 })
    val fast = docs
      .withColumn("st", call_function("graft_bpe_stats",
        graft.functions.TextFunctions.tokens(col("text")),
        searches, repls))
      .select(col("text"), col("st.m").as("m"), col("st.c").as("c"))
      .collect().map(_.toSeq).toSet
    assert(fast == ref,
      s"native BPE kernel diverged on adversarial tokens:\n$fast\nvs\n$ref")
  }

  test("codec kernels after the bulk-raster rewrite: encodePng bytes and " +
      "decoded pixels are identical to the per-pixel reference") {
    // per-pixel reference forms, inlined (the pre-r18 kernels)
    def encodeRef(width: Int, height: Int, seed: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y, ((seed * 31 + y * width + x) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    for (seed <- Seq(0L, 7L, 12345L); (w, h) <- Seq((1, 1), (8, 8), (16, 15))) {
      val fast = Multimodal.encodePng(w, h, seed)
      val ref = encodeRef(w, h, seed)
      assert(java.util.Arrays.equals(fast, ref),
        s"encodePng bytes diverged at w=$w h=$h seed=$seed")
      // decode side: bulk getRGB == per-pixel getRGB
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(fast))
      val bulk = img.getRGB(0, 0, w, h, null, 0, w)
      var k = 0
      while (k < w * h) {
        assert((bulk(k) & 0xffffff) == (img.getRGB(k % w, k / w) & 0xffffff),
          s"bulk getRGB diverged at k=$k w=$w h=$h")
        k += 1
      }
    }
    // md5-prefix arithmetic == hex-string parse (the dhash render fix)
    val md = java.security.MessageDigest.getInstance("MD5")
    for (s <- Seq("0:0", "17:3", "99999:240")) {
      val d = md.digest(s.getBytes("UTF-8"))
      val viaHex = Integer.parseInt(
        d.take(3).map("%02x".format(_)).mkString, 16)
      val viaBytes = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) |
        (d(2) & 0xff)
      assert(viaHex == viaBytes, s"digest-prefix arithmetic diverged on $s")
    }
  }

  test("native LshBucket == HOF bucketExpr on the fixture embeddings " +
      "(the sign-LSH bucket swap is bit-identical)") {
    val emb = graft.Tables.t(spark, dir, "embeddings")
    val both = emb
      .withColumn("hof", expr(Similarity.bucketExpr))
      .withColumn("native", org.apache.spark.sql.GraftColumnBridge.column(
        graft.plans.LshBucket(org.apache.spark.sql.GraftColumnBridge
          .expression(col("embedding")))))
    val diff = both.filter(!(col("hof") <=> col("native"))).count()
    assert(diff == 0, s"$diff rows with diverging buckets")
  }

  test("DoReMi factored count tables: curDoremiMix output is unchanged " +
      "vs the committed fixture contract (exact integer readout)") {
    // the oracle hash already pins this at sf0.01; this in-suite pin
    // catches a regression at the smaller fixture without DuckDB
    val out = Curation.curDoremiMix(spark, dir).collect()
    assert(out.nonEmpty, "doremi readout must be non-empty")
    // weights sum to ~1e6 ppm (smoothing guarantees every domain > 0)
    val ppm = out.map(_.getAs[Long]("alpha_ppm"))
    assert(ppm.forall(_ > 0), s"zero-collapsed weight: ${ppm.toSeq}")
    // two truncating integer divisions per domain (normalize, then the
    // eps rescale) each lose < 1 ppm — bound is 2·|domains|
    assert(math.abs(ppm.sum - 1000000L) <= 2L * out.length,
      s"ppm sum drifted: ${ppm.sum}")
  }

  test("uniqueness audits on raw key columns == the encoded-string " +
      "reference on the adversarial composite/NULL fixture") {
    import spark.implicits._
    // the Round12d adversarial shape: delimiter content inside parts,
    // NULL parts (equal-by-group), plus a fully-NULL composite
    val df = Seq(
      (Option("a#b"), Option("c")),
      (Option("a"), Option("b#c")),
      (Option("a"), None: Option[String]),
      (Option("a"), None: Option[String]),
      (None: Option[String], Option("a")),
      (None: Option[String], None: Option[String])).toDF("k1", "k2")
    val raw = Profiling.keyUniquenessAudit("t", df, Seq("k1", "k2"))
      .collect()(0)
    // reference: the retained oracle-side string encoding
    val enc = df.groupBy(Profiling.uniqKeyExpr(Seq("k1", "k2")).as("k"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_rows"),
        count(col("k")).as("n_keys")).collect()(0)
    assert(raw.getAs[Long]("n_rows") == enc.getAs[Long]("n_rows"))
    assert(raw.getAs[Long]("n_keys") == enc.getAs[Long]("n_keys"),
      s"raw-key grouping diverged from the injective encoding: $raw vs $enc")
    // single-column NULL-key exclusion is preserved too
    val one = Seq(Option(1L), Option(1L), Option(2L), None)
      .toDF("k")
    val r1 = Profiling.keyUniquenessAudit("t1", one, Seq("k")).collect()(0)
    assert(r1.getAs[Long]("n_rows") == 4L && r1.getAs[Long]("n_keys") == 2L,
      s"NULL single-column key must stay excluded from n_keys: $r1")
  }
}
