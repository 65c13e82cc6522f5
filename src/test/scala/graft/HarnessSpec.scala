package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The `graft.Bench` harness without a second SparkContext: command lines
  * are parsed before any session exists, and subcommand bodies take the
  * test session. */
class HarnessSpec extends AnyFunSuite with SparkSpec {

  test("an unknown subcommand or a wrong argument count exits with usage, building no session") {
    val bad = Seq(Seq("nope"), Seq("micro"), Seq("micro", "q_a", "extra"),
      Seq("explain"), Seq("explain", "no_such_query"), Seq("plans", "out", "before"),
      Seq("plans", "out", "before", "no_such_prefix"),
      Seq("probe"), Seq("synth", "base", "out"), Seq("synth", "base", "out", "0"),
      Seq("ab", "cp.txt"), Seq("ab", "cp.txt", "q_a", "x"), Seq("scale"), Seq("scale", "3"),
      Seq("scale", "x", "q_d"), Seq("scale", "3", "q_d", "extra"),
      // scale needs N >= 2 and a prefix that selects a declared query
      Seq("scale", "0", "q_d"), Seq("scale", "1", "q_d"), Seq("scale", "3", "q_a1_"))
    bad.foreach { args =>
      assert(Bench.parse(args).left.exists(_.startsWith("usage: graft.Bench")), args)
      assert(Bench.run(args, () => fail(s"session built for $args")) == 2, args)
    }
    val cp = Files.createTempFile("graft_cp", ".txt").toString
    assert(Bench.parse(Seq("ab", cp, "q_a", "2")).isRight)
    assert(Bench.parse(Seq("ab", cp + ".missing", "q_a")).isLeft)
    assert(Bench.parse(Seq("plans", "out", "before", "q_a")).isRight)
    // q_a1_ selects queries, none of them declared
    assert(Bench.parse(Seq("micro", "q_a1_")).isRight && !Scale.Declared.keys.exists(_.startsWith("q_a1_")))
    assert(Bench.parse(Seq("scale", "3", "q_d")).isRight)
  }

  test("per_query line: 40 slowest of 173 queries, whole in a 2,000-byte stdout tail") {
    // the longest names get the largest 6-digit times: the widest line
    val names = SparkEntry.queries.keys.toSeq.sortBy(n => (-n.length, n))
    assert(names.size == 173)
    val mins = names.zipWithIndex.map { case (n, i) => n -> (999.999 - i) }
    val meds = mins.toMap
    val line = Bench.perQueryLine(mins, 5)
    val summary = Bench.summaryLine(mins, 5, "/data/testdata/sf0.1", meds)
    val tail = Seq(line, summary, summary).mkString("", "\n", "\n")
    assert(line.length <= 1400, line.length)
    assert(tail.getBytes("UTF-8").length <= 2000)
    val json = new ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "per_query")
    assert(json.get("n").asInt == 173 && json.get("n_omitted").asInt == 133)
    assert(json.get("mins").size == 40)
    assert(json.get("mins").get(names.head).asDouble == 999.999)
    assert(!json.has("queries"))
  }

  test("plans writes a formatted plan file from the given session") {
    val out = Files.createTempDirectory("graft_plans").toString
    Bench.plans(spark, "/root/testdata/sf0.001", out, "before", "q_a1_")
    val txt = Files.readString(Paths.get(out, "q_a1_daily_stats_before.txt"))
    assert(txt.contains("== Physical Plan =="))
  }
}
