package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{MinhashBands, MinhashSig, ShingleGramHashes, SimHash64, Text}

/** The dedup family evaluates the sketch pipeline on every document, so
  * round 10 moved it from row UDFs into native codegen'd expressions
  * (`graft.functions.SketchNative`). The UDFs remain the registered SQL
  * twins and the semantic reference — this spec pins bit-parity on real
  * testdata plus edge cases, and checks the extensions-injected SQL
  * surface resolves to the native forms.
  */
class SketchExprSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val edgeCases = Seq(
    "", " ", "a b", "a b c", "a b c d e", "A  B!!C d", "repeat repeat repeat repeat",
    "ünïcödé ÀÇCÉNTS and ß sharp words here", "one two three four five")

  test("native shingle/minhash/simhash expressions are bit-equal to the UDF twins") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").as[String].collect().toSeq ++ edgeCases
    val both = docs.toDF("text").select(
      ShingleGramHashes($"text").as("nh"),
      Text.shingleHashesFastUdf($"text").as("uh"))
      .withColumn("nsig", MinhashSig($"nh"))
      .withColumn("usig", Text.minhashSigUdf($"uh"))
      .withColumn("nbands", MinhashBands($"nsig"))
      .withColumn("ubands", Text.bandsFromSigUdf($"usig"))
      .withColumn("nsim", SimHash64($"nh"))
      .withColumn("usim", Text.simhashUdf($"uh"))
      .as[(Seq[Long], Seq[Long], Seq[Long], Seq[Long], Seq[Long], Seq[Long], Long, Long)]
      .collect()
    docs.zip(both).foreach { case (in, (nh, uh, nsig, usig, nbands, ubands, nsim, usim)) =>
      assert(nh === uh, s"shingle hashes diverge on <$in>")
      assert(nsig === usig, s"minhash sig diverges on <$in>")
      assert(nbands === ubands, s"band hashes diverge on <$in>")
      assert(nsim === usim, s"simhash diverges on <$in>")
    }
  }

  test("CmsBuckets: the codegen'd bucket expression is bit-equal to " +
      "allBucketsUdf on every real word and edge token (the r21 streaming " +
      "hot-path swap)") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // the expression's contract input is a wordsFast token ([a-z0-9]+) —
    // feed it the real vocab plus hand-picked boundary tokens
    val words = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(Text.wordsFast($"text")).as("word"))
      .filter(length($"word") > 0).distinct()
      .as[String].collect().toSeq ++ Seq("a", "0", "z9", "qqqqqqqqqqqqqqqqqqqq")
    val both = words.toDF("word").select(
        graft.functions.CmsBuckets($"word",
          TextAnalysis.CmsD, TextAnalysis.CmsBits).as("nb"),
        TextAnalysis.allBucketsUdf($"word").as("ub"))
      .as[(Seq[Int], Seq[Int])].collect()
    words.zip(both).foreach { case (w, (nb, ub)) =>
      assert(nb === ub, s"cms buckets diverge on <$w>")
    }
    // parity ends where the ASCII contract does: the bucket expression
    // hashes bytes, the UDF hashes chars, so it holds only while
    // wordsFast emits [a-z0-9] tokens, also from non-ASCII text
    val canary = Seq("ünïcödé ÀÇCÉNTS straße 東京 ½ naïve café").toDF("text")
      .select(explode(Text.wordsFast($"text")).as("word"))
      .as[String].collect().toSeq
    assert(canary.nonEmpty)
    canary.foreach(w => assert(w.matches("[a-z0-9]*"), s"non-ASCII token <$w>"))
  }

  test("wordWindowHashes: prefix-roll O(n) path equals gram64 of every rebuilt window") {
    import spark.implicits._
    val w = 5
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").as[String].collect().toSeq ++ edgeCases
    val native = docs.toDF("text")
      .select(graft.functions.WordWindowHashes($"text", w).as("h"))
      .as[Seq[Long]].collect()
    docs.zip(native).foreach { case (in, got) =>
      val words = Text.normalizeString(in).split(" ", -1)
      val want =
        if (words.length < w) Seq.empty[Long]
        else (0 to words.length - w).map(i => Text.gram64(words.slice(i, i + w).mkString(" ")))
      assert(got === want, s"window hashes diverge on <$in>")
    }
  }

  test("extensions surface: the sketch pipeline is callable from pure SQL") {
    val row = spark.sql(
      """SELECT size(graft_shingle_hashes('one two three four')) AS n_h,
               size(graft_minhash_sig(graft_shingle_hashes('one two three four'))) AS n_sig,
               size(graft_minhash_bands(graft_minhash_sig(graft_shingle_hashes('one two three four')))) AS n_bands,
               graft_simhash64(graft_shingle_hashes('one two three four')) AS sh
      """).head()
    assert(row.getAs[Int]("n_h") === 2)
    assert(row.getAs[Int]("n_sig") === 128)
    assert(row.getAs[Int]("n_bands") === 16)
    assert(row.getAs[Long]("sh") ===
      Text.simhash64(Array("one two three", "two three four").map(Text.gram64)))
    val wh = spark.sql(
      "SELECT graft_window_hashes('one two three four', 3) AS h").head()
      .getSeq[Long](0)
    assert(wh === Seq("one two three", "two three four").map(Text.gram64))
  }

  test("the sketch scan stage stays inside whole-stage codegen") {
    import spark.implicits._
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(SimHash64(ShingleGramHashes($"text")).as("sig"))
      .queryExecution.executedPlan
    // the projection carrying the sketch expressions must sit INSIDE a
    // WholeStageCodegen span, not fall back to an interpreted project
    val inSpan = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.exists(_.collect {
      case p: org.apache.spark.sql.execution.ProjectExec => p
    }.nonEmpty)
    assert(inSpan, s"sketch projection fell out of codegen:\n$plan")
  }
}
