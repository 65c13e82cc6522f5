package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.Scale._

/** The declared scale invariants ([[Scale.Declared]]) at N = 3 on
  * sf0.001, and the checker itself on hand-built frame pairs. */
class ScaleSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val N = 3

  /** The checker's temp roots now in the temp dir. */
  private def roots(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list).toSet.flatten
      .filter(_.startsWith("graft_scale_"))

  /** The index dirs the queries have built, over any dataset dir. */
  private def indexes(): Set[String] = {
    val probe = new File(TextSimQueries.indexDir("", Sf0001))
    Option(probe.getParentFile.list).toSet.flatten
  }

  /** One check of every declared query, with the temp roots and index
    * dirs it left behind. */
  private lazy val (outcomes, rootsLeft, indexesLeft) = {
    val (roots0, indexes0) = (roots(), indexes())
    val os = Scale.check(spark, Sf0001, N, Declared.toSeq.sortBy(_._1))
    (os.map(o => o.name -> o).toMap, roots() -- roots0, indexes() -- indexes0)
  }

  Declared.keys.toSeq.sorted.foreach { name =>
    test(s"$name keeps its declared invariant at ${N}x") {
      val o = outcomes(name)
      assert(o.failure.isEmpty, o.failure.getOrElse(""))
    }
  }

  test("the check leaves no temp root and no index over the copy behind") {
    assert(rootsLeft.isEmpty, rootsLeft)
    // an index built over the 1x dir may stay: its memo serves the suite
    val oneKey = new File(TextSimQueries.indexDir("", Sf0001)).getName
    assert(indexesLeft.forall(_.endsWith(oneKey)), indexesLeft)
  }

  test("the temp root is removed after a failing check and a throwing one") {
    val before = roots()
    // q_t27's counts scale with N, so Same breaks
    val broke = Scale.check(spark, Sf0001, 2, Seq("q_t27_bpe_train" -> Same))
    assert(broke.head.failure.nonEmpty)
    assert((roots() -- before).isEmpty)
    val e = intercept[IllegalStateException] {
      Scale.check(spark, Sf0001, 2,
        Seq("q_t27_bpe_train" -> Rows((_, _) => throw new IllegalStateException("boom"))))
    }
    assert(e.getMessage == "boom")
    assert((roots() -- before).isEmpty)
  }

  test("every declared invariant names a query of SparkEntry.queries") {
    assert(Declared.nonEmpty)
    assert(Declared.keySet.subsetOf(SparkEntry.queries.keySet),
      Declared.keySet -- SparkEntry.queries.keySet)
  }

  // the four forms on hand-built (1x, 3x) pairs: one pass and one fail each

  test("Same: the same rows, each as often, pass; same count and same set fail") {
    val one = Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("id", "v")
    assert(holds(Same, N, one, Seq((2L, "b"), (1L, "a"), (2L, "b")).toDF("id", "v")).isEmpty)
    // three rows and the same distinct rows, but "a" twice and "b" once
    assert(holds(Same, N, one, Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "v")).nonEmpty)
  }

  test("Replicated: every 1x row N times after id % Salt passes; a row " +
    "N + 1 times and another N - 1 times fail") {
    val one = Seq((1L, 2L, 0.5), (3L, 4L, 1.0)).toDF("id_a", "id_b", "s")
    def copies(rows: Seq[(Long, Long, Double)]) =
      (0 until N).flatMap(i => rows.map { case (a, b, s) => (a + i * Salt, b + i * Salt, s) })
    val good = copies(Seq((1L, 2L, 0.5), (3L, 4L, 1.0)))
    assert(holds(Replicated("id_a", "id_b"), N, one, good.toDF("id_a", "id_b", "s")).isEmpty)
    val bad = good.updated(good.indexOf((3L + 2 * Salt, 4L + 2 * Salt, 1.0)),
      (1L + 2 * Salt, 2L + 2 * Salt, 0.5))
    assert(holds(Replicated("id_a", "id_b"), N, one, bad.toDF("id_a", "id_b", "s")).nonEmpty)
  }

  test("Scaled: counts and sums N times pass, on the 6-decimal grid; a " +
    "count off by one fails") {
    val one = Seq(("x", 2L, 0.1), ("y", 5L, 0.7)).toDF("k", "n", "v")
    // 0.1 * 3 is 0.30000000000000004 in doubles
    val good = Seq(("x", 6L, 0.1 * 3), ("y", 15L, 0.7 * 3)).toDF("k", "n", "v")
    assert(holds(Scaled("n", "v"), N, one, good).isEmpty)
    val bad = Seq(("x", 6L, 0.3), ("y", 14L, 2.1)).toDF("k", "n", "v")
    assert(holds(Scaled("n", "v"), N, one, bad).nonEmpty)
  }

  test("Rows: the closed-form count passes; one row more fails") {
    val pairs = Rows((n, n1) => n1 * n * (n - 1) / 2)
    val one = spark.range(4).toDF("g")
    assert(holds(pairs, N, one, spark.range(12).toDF("g")).isEmpty)
    assert(holds(pairs, N, one, spark.range(13).toDF("g")).nonEmpty)
  }
}
