package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{Planes, VectorOps}

/** Hyperplane machinery + expression-semantics guards. */
class PlanesSpec extends AnyFunSuite {
  import SharedSpark.spark

  test("plane signs match the independently-computed fmix reference") {
    // reference values computed with an independent (python) fmix impl
    val expected = Seq(
      (0, 0, -1), (0, 1, 1), (1, 3, -1), (7, 63, -1),
      (16, 10, -1), (63, 32, 1), (127, 5, -1), (127, 63, 1))
    expected.foreach { case (p, d, s) =>
      assert(Planes.sign(p, d) == s, s"sign($p,$d)")
    }
    assert((0 until 16).map(Planes.sign(3, _)) ==
      Seq(-1, -1, 1, 1, -1, 1, -1, -1, -1, 1, -1, 1, 1, 1, 1, 1))
  }

  test("plane rows are balanced and pairwise near-orthogonal") {
    val rows = (0 until 128).map(p => Planes.signRow(p, 64))
    rows.foreach(r => assert(math.abs(r.sum) <= 24, "severely unbalanced plane"))
    for (i <- 0 until 128; j <- (i + 1) until 128) {
      val dot = rows(i).zip(rows(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot) <= 40, s"planes $i,$j correlated: $dot")
    }
  }

  test("fused graft_lsh_sigs equals the HOF reference formulation bit-for-bit") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, SharedSpark.sf)
    val dims = Planes.dimsOf(e, "embedding")
    val (tables, planes) = (16, 8)
    val hof = e.select(col("vec_id"), array(
      (0 until tables).map(t => Planes.lshSig(col("embedding"), t, planes, dims)): _*).as("s"))
    val fused = e.select(col("vec_id"),
      expr(s"graft_lsh_sigs(embedding, $tables, $planes)").as("s"))
    val h = hof.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val f = fused.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(h == f)
  }

  test("stop-bucket cap bounds the candidate explosion and stays a subset") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, SharedSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val dims = Planes.dimsOf(e, "embedding")
    val banded = Planes.withSigs(e, "embedding", 8, 4, dims)
      .select(col("table"), col("sig"), col("vec_id"))
    def pairs(cap: Option[Int]) = Planes.candidatePairs(banded, "vec_id", cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(None)
    val capped = pairs(Some(5))
    assert(capped.subsetOf(uncapped))
    assert(capped.size < uncapped.size,
      "a 5-member bucket cap should drop some hot-bucket pairs on this corpus")
  }

  test("dimsOf fails fast on mixed embedding dims (ADVICE r1)") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] { Planes.dimsOf(df, "embedding") }
  }

  test("graft_cosine is bit-identical to the HOF reference VectorOps.cosine") {
    // same summation order on both sides: dot, na and nb summed in
    // element order, then dot / sqrt(na * nb)
    val e = graft.sources.Tables.embeddings(spark, SharedSpark.sf).limit(50)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("ia") < col("ib"))
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val hof = pairs.select(col("ia"), col("ib"),
      VectorOps.cosine(col("ea"), col("eb")).as("cos"))
    // the reference must stay a HOF plan, or this compares the kernel to itself
    assert(!hof.queryExecution.optimizedPlan.toString.contains("graft_cosine"))
    val viaHof = scores(hof)
    val viaNative = scores(pairs.select(col("ia"), col("ib"),
      expr("graft_cosine(ea, eb)").as("cos")))
    assert(viaHof.nonEmpty && viaHof == viaNative)
  }

  test("graft_cosine is NULL on length mismatch — identical to the HOF form") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
                 (Array(1.0f, 0.0f), Array(1.0f, 0.0f)))
      .toDF("a", "b")
    val rows = df.select(expr("graft_cosine(a, b)").as("native"),
        VectorOps.cosine(col("a"), col("b")).as("hof")).collect()
    assert(rows.forall(r => r.isNullAt(0) == r.isNullAt(1)))
    assert(rows.exists(_.isNullAt(0)) && rows.exists(!_.isNullAt(0)))
  }
}
