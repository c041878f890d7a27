package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Guard against silent interpreted fallback: with
 * `spark.sql.codegen.fallback=false` and factoryMode=CODEGEN_ONLY a
 * codegen compile failure throws instead of quietly degrading. This
 * would have caught the companion-`eval` static-forwarder clash that
 * shipped char_ngrams (and later word_shingles/count_in_set/
 * array_total_strlen) interpreted: the generated Java called
 * `MyExpr.eval(args)` but the case class's inherited
 * `eval(InternalRow)` suppressed the companion's static forwarder.
 */
class CodegenCompileSpec extends SparkSpec {

  test("every custom expression compiles under CODEGEN_ONLY") {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.codegen.fallback", "false")
    sess.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    import sess.implicits._
    // inputs must derive from a scan column: a local Seq would be
    // folded by ConvertToLocalRelation / constant folding and the
    // expressions would evaluate interpreted at OPTIMIZATION time,
    // never exercising codegen (observed: a deliberately broken
    // doGenCode passed the local-Seq version of this test)
    val df = sess.range(2).select(
      concat(lit("the quick brown fox "), $"id".cast("string")).as("text"),
      array(lit("the"), concat(lit("tok"), $"id".cast("string"))).as("toks"),
      array(lit(0.5f), ($"id" + 1).cast("float")).as("vec"),
      map(lit("k"), $"id".cast("string")).as("m"))
    val out = df.select(
      functions.h60($"text"),
      functions.word_shingles($"text", 2),
      functions.char_ngrams($"text", 3),
      functions.count_in_set($"toks", Seq("the", "of")),
      functions.array_total_strlen($"toks"),
      functions.simhash60($"toks"),
      functions.minhash60($"toks", 8),
      functions.lsh_bands(functions.minhash60($"toks", 8), 4),
      functions.rolling_poly_fp($"text", 4, 2),
      functions.hstore_render($"m"),
      functions.cosine_sim($"vec", $"vec"),
      functions.dot_product($"vec", $"vec"),
      functions.srp_bucket($"vec", 4),
      functions.simhash64($"toks"),
      functions.minhash_signature($"toks", 8),
      functions.rolling_fingerprints($"text", 4, 2),
      functions.sorted_intersect_size(sort_array($"toks"), sort_array($"toks"))
    ).collect()
    assert(out.length == 2)
  }

  test("custom functions are SQL-registered via GraftExtensions") {
    import spark.implicits._
    val sim = spark.sql(
      "SELECT simhash64(array('a', 'b')) AS s").as[Long].head()
    val sim2 = spark.sql(
      "SELECT simhash64(array('a', 'b')) AS s").as[Long].head()
    assert(sim == sim2 && sim != 0L)
    val mh = spark.sql(
      "SELECT minhash_signature(array('x'), 4) AS m").as[Seq[Long]].head()
    assert(mh.size == 4)
    val fp = spark.sql(
      "SELECT rolling_fingerprints('hello world rolling', 8, 2) AS f")
      .as[Seq[Long]].head()
    assert(fp.forall(_ % 2 == 0))
  }
}
