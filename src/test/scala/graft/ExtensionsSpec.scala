package graft

import graft.functions.SimHash

/** The SQL registration path: GraftExtensions.register (or
  * `builder.withExtensions(new GraftExtensions)` on a fresh session)
  * makes the native expressions callable from plain SQL. */
class ExtensionsSpec extends SparkSpecBase {

  test("native functions are callable from SQL via GraftExtensions") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT simhash64('a b c') AS sh,
         array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
         intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS ic,
         size(text_shingles('w1 w2 w3 w4', 3)) AS nsh,
         size(minhash_sig(array(42L), 8)) AS nmh,
         size(lsh_buckets(array(0.5D, -0.5D), 4, 8)) AS nlsh,
         size(band_keys(minhash_sig(array(42L), 8), 2, 4)) AS nbk,
         size(minhash_band_keys(array(42L), 8, 2)) AS nmbk,
         band_keys(minhash_sig(array(42L), 8), 2, 4)
           = minhash_band_keys(array(42L), 8, 2) AS bk_eq
      """).head()
    assert(row.getAs[Long]("sh") === SimHash.simhash64("a b c"))
    assert(row.getAs[Double]("dot") === 11.0)
    assert(row.getAs[Long]("ic") === 2L)
    assert(row.getAs[Int]("nsh") === 2)
    assert(row.getAs[Int]("nmh") === 8)
    assert(row.getAs[Int]("nlsh") === 4)
    assert(row.getAs[Int]("nbk") === 2)
    assert(row.getAs[Int]("nmbk") === 2)
    // the fused kernel and the two-step form agree key-for-key
    assert(row.getAs[Boolean]("bk_eq"))
  }

  test("register resolves every name in the function table; pii_scan is gone") {
    GraftExtensions.register(spark)
    val names = GraftExtensions.Functions.map(_.name)
    assert(names.distinct.size === names.size)
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
    assert(!spark.catalog.functionExists("pii_scan"))
  }
}
