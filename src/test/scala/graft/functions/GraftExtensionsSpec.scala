package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

/** SQL↔Column parity for the extension-registered functions: every
  * function resolved from SQL text must produce the IDENTICAL result
  * to the Column-API wrapper around the same expression class — if the
  * builder mis-wires a parameter (shingle width, md5 flag, slice
  * bounds), these diverge. x1's driver oracle covers hex_slice_to_long
  * end-to-end; this spec covers the other nine plus the
  * foldable-parameter contract.
  */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val installed: Unit = GraftExtensions.install(spark)

  private lazy val docs = {
    installed
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "the quick brown fox"),
      (4L, "one"),
      (5L, "")
    ).toDF("id", "text")
  }

  private def assertParity(name: String, sqlCol: String,
      apiCol: org.apache.spark.sql.Column): Unit = {
    val viaSql = docs.selectExpr("id", s"$sqlCol AS v").orderBy("id").collect()
    val viaApi = docs.select(col("id"), apiCol.as("v")).orderBy("id").collect()
    assert(viaSql.sameElements(viaApi), s"$name: SQL and Column paths diverge")
  }

  test("install registers every function by name") {
    installed
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.size == 11)
    names.foreach { n =>
      assert(spark.catalog.functionExists(n), s"$n not registered")
    }
  }

  test("text family: SQL text equals the Column wrapper") {
    assertParity("word_shingles", "word_shingles(text, 3)",
      TextExpressions.wordShingles(col("text"), 3))
    assertParity("simhash_chunks", "simhash_chunks(text)",
      TextExpressions.simhashChunks(col("text"), useMd5 = false))
    assertParity("simhash_chunks[md5]", "simhash_chunks(text, true)",
      TextExpressions.simhashChunks(col("text"), useMd5 = true))
    assertParity("minhash_signature", "minhash_signature(word_shingles(text, 2), 8)",
      TextExpressions.minhashSignature(
        TextExpressions.wordShingles(col("text"), 2), 8, useMd5 = false))
    assertParity("winnow_fingerprints", "winnow_fingerprints(text, 4, 3)",
      TextExpressions.winnowFingerprints(col("text"), 4, 3))
    assertParity("hashed_shingle_set",
      "hashed_shingle_set(word_shingles(text, 2), true)",
      TextExpressions.hashedShingleSet(
        TextExpressions.wordShingles(col("text"), 2), useMd5 = true))
    assertParity("sorted_intersect_size",
      "sorted_intersect_size(hashed_shingle_set(word_shingles(text, 2)), " +
        "hashed_shingle_set(word_shingles(text, 2)))",
      TextExpressions.sortedIntersectSize(
        TextExpressions.hashedShingleSet(
          TextExpressions.wordShingles(col("text"), 2), useMd5 = false),
        TextExpressions.hashedShingleSet(
          TextExpressions.wordShingles(col("text"), 2), useMd5 = false)))
  }

  test("adjacent_pairs: native equals the HOF spelling; short docs emit empty, not bogus indices") {
    installed
    // parity with the interpreted-HOF formulation on >= 2-token docs
    val multi = docs.filter(length(trim(col("text"))) > 0)
      .filter(size(split(trim(col("text")), "\\s+")) >= 2)
    val viaNative = multi.select(col("id"),
      TextExpressions.adjacentPairs(col("text")).as("p")).orderBy("id").collect()
    val viaHof = multi.select(col("id"), expr(
      """transform(sequence(1, size(filter(split(trim(text), '\\s+'), t -> length(t) > 0)) - 1),
        |  i -> struct(element_at(filter(split(trim(text), '\\s+'), t -> length(t) > 0), i) AS w1,
        |              element_at(filter(split(trim(text), '\\s+'), t -> length(t) > 0), i + 1) AS w2))""".stripMargin)
      .as("p")).orderBy("id").collect()
    assert(viaNative.sameElements(viaHof), "native must equal the HOF formulation")
    // the HOF's latent edge (sequence(1, size-1) DESCENDS below 2
    // tokens) is fixed: short docs emit an EMPTY array
    val short = docs.filter(size(split(trim(col("text")), "\\s+")) < 2 ||
        length(trim(col("text"))) === 0)
      .select(size(TextExpressions.adjacentPairs(col("text"))).as("n"))
      .as[Int].collect()
    assert(short.nonEmpty && short.forall(_ == 0),
      s"0/1-token docs must emit empty pair arrays, got ${short.toSeq}")
    // SQL registration path
    assertParity("adjacent_pairs", "adjacent_pairs(text)",
      TextExpressions.adjacentPairs(col("text")))
  }

  test("vector family: SQL text equals the Column wrapper") {
    installed
    val vecs = Seq(
      (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0), Array(1, 2), Array(3, 4)),
      (2L, Array(0.5, -0.5), Array(2.0, 2.0), Array(7, 0), Array(1, 1))
    ).toDF("id", "a", "b", "ia", "ib")
    def parity(name: String, sqlCol: String, apiCol: org.apache.spark.sql.Column): Unit = {
      val s = vecs.selectExpr("id", s"$sqlCol AS v").orderBy("id").collect()
      val a = vecs.select(col("id"), apiCol.as("v")).orderBy("id").collect()
      assert(s.sameElements(a), s"$name: SQL and Column paths diverge")
    }
    parity("dot_product", "dot_product(a, b)",
      VectorExpressions.dotProduct(col("a"), col("b")))
    parity("int_dot_product", "int_dot_product(ia, ib)",
      VectorExpressions.intDotProduct(col("ia"), col("ib")))
    parity("unit_vector", "unit_vector(a)",
      VectorExpressions.unitVector(col("a")))
    parity("hex_slice_to_long", "hex_slice_to_long(md5(cast(id AS string)), 1, 14)",
      VectorExpressions.hexSliceToLong(md5(col("id").cast("string")), 1, 14))
  }

  test("scalar parameters must be foldable literals") {
    installed
    val e = intercept[Exception] {
      docs.selectExpr("word_shingles(text, id)").collect()
    }
    assert(e.getMessage.contains("literal") ||
      e.getMessage.toLowerCase.contains("foldable"),
      s"unexpected error: ${e.getMessage}")
  }

  test("sorted_long_intersect refuses arrays that may hold null elements") {
    val rows = Seq((Seq(1L, 2L), Seq[java.lang.Long](0L, null))).toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      rows.select(TextExpressions.sortedLongIntersect(col("a"), col("b")))
        .collect()
    }
    assert(e.getMessage.contains("null-free"), s"unexpected error: ${e.getMessage}")
    // the null-free typing the triangle close feeds it still resolves
    assert(rows.select(TextExpressions.sortedLongIntersect(col("a"), col("a")))
      .as[Seq[Long]].head() == Seq(1L, 2L))
  }

  test("builder-time extension wires the same list without throwing") {
    // withExtensions applies at session CREATION, which a shared-session
    // suite cannot exercise; the wiring itself (every injectFunction
    // call) and the shared definition list are the contract.
    new GraftExtensions()(new SparkSessionExtensions)
  }
}
