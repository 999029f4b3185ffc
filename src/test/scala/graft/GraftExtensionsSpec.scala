package graft

import graft.SparkSpec
import org.apache.spark.sql.graft.GraftExpressions

class GraftExtensionsSpec extends SparkSpec {
  test("dot_product is callable from SQL after registration") {
    GraftExpressions.registerSql(spark)
    val v = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(v === 11.0)
  }

  test("hamming is callable from SQL and matches the interpreted fold") {
    GraftExpressions.registerSql(spark)
    assert(spark.sql("SELECT hamming('0101', '0011') AS h").head().getInt(0) === 2)
    assert(spark.sql("SELECT hamming('1111', '1111') AS h").head().getInt(0) === 0)
    // equal-length random bit strings vs the interpreted formulation
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(3)
    val rows = (0 until 50).map { _ =>
      (Seq.fill(16)(rnd.nextInt(2)).mkString, Seq.fill(16)(rnd.nextInt(2)).mkString)
    }
    import spark.implicits._
    val df = rows.toDF("a", "b")
    val both = df.select(
      graft.ops.Dedup.hammingBits(col("a"), col("b")).as("nat"),
      aggregate(zip_with(split(col("a"), ""), split(col("b"), ""),
        (x, y) => when(x =!= y, 1).otherwise(0)), lit(0), (acc, x) => acc + x).as("itp"))
      .collect()
    both.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("intersect_count matches array_intersect size on sorted distinct arrays") {
    GraftExpressions.registerSql(spark)
    assert(spark.sql(
      "SELECT intersect_count(array(1L,3L,5L,9L), array(2L,3L,5L,10L)) AS c")
      .head().getInt(0) === 2)
    assert(spark.sql(
      "SELECT intersect_count(array(1L,2L), array(3L,4L)) AS c")
      .head().getInt(0) === 0)
    // randomized parity vs the built-in on sorted distinct inputs
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 100).map { _ =>
      (Seq.fill(20)(rnd.nextInt(40).toLong).distinct.sorted,
        Seq.fill(20)(rnd.nextInt(40).toLong).distinct.sorted)
    }
    rows.toDF("a", "b")
      .select(GraftExpressions.intersectCount(col("a"), col("b")).as("nat"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect()
      .foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("intersect_weighted_sum matches a brute-force weighted intersection") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExpressions.registerSql(spark)
    assert(spark.sql(
      "SELECT intersect_weighted_sum(array(1L,3L,5L), array(0.5D,0.25D,0.125D), array(3L,5L,7L)) AS s")
      .head().getDouble(0) === 0.375)
    val rnd = new scala.util.Random(11)
    val rows = (0 until 100).map { _ =>
      val a = Seq.fill(20)(rnd.nextInt(40).toLong).distinct.sorted
      val w = a.map(x => 1.0 / (1 + x))
      val b = Seq.fill(20)(rnd.nextInt(40).toLong).distinct.sorted
      val expect = a.zip(w).filter { case (x, _) => b.contains(x) }.map(_._2).sum
      (a, w, b, expect)
    }
    rows.toDF("a", "w", "b", "expect")
      .select(GraftExpressions.intersectWeightedSum(col("a"), col("w"), col("b")).as("nat"),
        col("expect"))
      .collect()
      .foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("resource allocation plan uses the native merge scan inside codegen") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val canon = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val df = graft.graph.GraphAlgs.resourceAllocation(
      canon, graft.graph.EdgeOps.symmetrize(canon))
    df.collect() // finalize the adaptive plan so codegen spans appear
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("sortedintersectweightedsum"),
      "RA must go through the native weighted merge scan, not a wedge join")
    // codegen spans render as "*(n)" in the final adaptive plan; the
    // projection carrying the merge scan must sit inside one
    assert(plan.contains("*("), "expected whole-stage codegen spans in the final plan")
  }

  test("withExtensions and registerSql expose the same native function set") {
    import org.apache.spark.sql.SparkSession
    def names(s: SparkSession): Set[String] =
      s.catalog.listFunctions().collect().map(_.name).toSet
    val builtIn = names(spark.newSession())
    val registered = spark.newSession()
    GraftExpressions.registerSql(registered)
    // a session BUILT with the extensions: clear the shared test
    // session from the builder's lookup so getOrCreate builds a new
    // one on the same SparkContext, then restore it
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val extended = try
      SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(extended ne spark)
    val viaRegister = names(registered) -- builtIn
    val viaExtensions = names(extended) -- builtIn
    assert(viaExtensions === viaRegister)
    assert(viaRegister === Set("dot_product", "hamming", "intersect_count",
      "intersect_weighted_sum"))
    assert(extended.sql(
      "SELECT intersect_weighted_sum(array(1L,3L), array(0.5D,0.25D), array(3L)) AS s")
      .head().getDouble(0) === 0.25)
  }

  test("GraftExtensions injects without error") {
    // the builder-time path: injection must register cleanly
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }
}
