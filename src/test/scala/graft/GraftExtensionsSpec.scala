package graft

import org.apache.spark.sql.SparkSession

/** The extensions path must yield the same functions as imperative
  * registration — built on a session configured via spark.sql.extensions,
  * exactly as a deployment would.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("spark.sql.extensions=graft.GraftExtensions registers the native functions") {
    val shared = spark // materialize the shared session first
    // getOrCreate returns the existing default session (ignoring extensions),
    // so clear the defaults to force a NEW session instance — it reuses the
    // JVM's SparkContext but applies the configured extensions.
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // withExtensions is the programmatic form of
      // spark.sql.extensions=graft.GraftExtensions (the conf spelling is a
      // STATIC conf — it only applies when the SparkContext itself is born
      // with it, which a shared-JVM test can't do).
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val dot = s2.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) v")
        .collect().head.getDouble(0)
      assert(dot == 11.0)
      val sh = s2.sql("SELECT graft_shingles(array('a','b','c'), 2) v")
        .collect().head.getSeq[String](0)
      assert(sh == Seq("a b", "b c"))
      // every function of the one table resolves in this session
      val missing = graft.functions.expressions.GraftFunctions.all
        .map(_._1.funcName).filterNot(s2.catalog.functionExists)
      assert(missing.isEmpty, s"extension session lacks ${missing.mkString(", ")}")
      val tok = s2.sql(
        """SELECT graft_token_entropy(array('a','a','b','b')) ent,
          |       graft_top_token_share(array('a','b','a','a')) share""".stripMargin)
        .collect().head
      assert(math.abs(tok.getDouble(0) - math.log(2.0)) < 1e-12)
      assert(tok.getDouble(1) == 0.75)
      // bloom pair end-to-end in SQL: build over 0..99, probe a member
      // and a non-member — no false negatives, and the far non-member
      // hash space makes a false positive astronomically unlikely at
      // this fill ratio
      s2.range(100).createOrReplaceTempView("ext_bloom_src")
      val bloom = s2.sql(
        "SELECT graft_bloom_agg(xxhash64(id), 1024L) bf FROM ext_bloom_src")
      bloom.createOrReplaceTempView("ext_bloom")
      val probed = s2.sql(
        """SELECT graft_bloom_contains((SELECT bf FROM ext_bloom), xxhash64(42L)) hit,
          |       graft_bloom_contains((SELECT bf FROM ext_bloom), xxhash64(123456789L)) miss
          |""".stripMargin).collect().head
      assert(probed.getBoolean(0), "bloom dropped a true member")
      assert(!probed.getBoolean(1), "bloom matched a far non-member")
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
