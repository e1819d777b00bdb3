package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Bench's contract line: valid JSON within the budget, and a failed
  * query is named, never summed or folded into "omitted". */
class BenchLineSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  test("a failed query is named in \"failed\" and left out of the total") {
    val line = Bench.contractLine(
      Seq("q01_a" -> Some(1.25), "q02_b" -> None, "q03_c" -> Some(0.5)), "disk", "sf")
    val j = json.readTree(line)
    assert(j.get("metric").asText == "total")
    assert(j.get("value").asDouble == 1.75)
    assert(j.get("failed").elements.asScala.map(_.asText).toSeq == Seq("q02"))
    assert(j.get("queries").fieldNames.asScala.toSeq == Seq("q01", "q03"))
    assert(j.get("omitted") == null)
    assert(j.get("scratch").asText == "disk" && j.get("sf").asText == "sf")
    val none = json.readTree(Bench.contractLine(Seq("q01_a" -> Some(1.0)), "tmpfs", "sf"))
    assert(none.get("failed").size == 0)
  }

  test("an over-budget line shrinks the timed tail only, every failure kept") {
    val timed = (100 until 400).map(i => s"q${i}_x" -> Some(i / 100.0))
    val failed = Seq("q050_f" -> None, "q051_g" -> None)
    val line = Bench.contractLine(timed ++ failed, "disk", "sf")
    assert(line.length <= 1900, line.length)
    val j = json.readTree(line)
    assert(j.get("failed").elements.asScala.map(_.asText).toSeq == Seq("q050", "q051"))
    val kept = j.get("queries").size
    assert(kept >= 10 && kept < timed.size)
    assert(j.get("omitted").get("n").asInt + kept == timed.size)
    // the slowest entries are the ones listed
    assert(j.get("queries").has("q399"))
    val total = timed.flatMap(_._2).sum
    assert(math.abs(j.get("value").asDouble - total) < 0.01)
  }

  test("a failed list longer than the budget is still printed whole") {
    val failed = (100 until 400).map(i => s"q${i}_x" -> None)
    val j = json.readTree(Bench.contractLine(failed :+ ("q01_a" -> Some(1.0)), "disk", "sf"))
    assert(j.get("failed").size == failed.size)
    assert(j.get("value").asDouble == 1.0)
  }

  test("shuffle partitions: ~8 MiB of input each, never below the core count") {
    val sf01 = 17508506L   // sf0.1's parquet bytes
    val sf1 = 10 * sf01    // sf1, ten times the rows
    assert(Bench.shufflePartitions(1, sf01) == 3)
    assert(Bench.shufflePartitions(3, sf01) == 3)
    assert(Bench.shufflePartitions(4, sf01) == 4)
    assert(Bench.shufflePartitions(32, sf01) == 32)
    assert(Bench.shufflePartitions(4, sf1) == 21)
    assert(Bench.shufflePartitions(32, sf1) == 32)
  }
}
