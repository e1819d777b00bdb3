package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The committed INDEX.md must be exactly what IndexGen generates
  * from the current code — the regeneration test that keeps the
  * one-page query index from drifting (round-11 verdict task 8). */
class IndexSpec extends AnyFunSuite {

  private val repo = Paths.get(".").toAbsolutePath.normalize

  test("INDEX.md matches a fresh regeneration") {
    val committed = Files.readString(repo.resolve("INDEX.md"))
    val fresh = IndexGen.render(repo)
    assert(committed == fresh,
      "INDEX.md is stale — run `sbt \"runMain graft.IndexGen\"` and commit")
  }

  test("every query resolves to a real declaration site") {
    val lines = Files.readString(repo.resolve("INDEX.md")).linesIterator.toSeq
    val rows = lines.filter(_.matches("\\| q\\d.*")) // not the "| query |" header
    assert(rows.size == SparkEntry.queries.size)
    assert(!rows.exists(_.contains("| ? |")), "unlocated query in index")
  }

  // The round-13 failure mode: the driver drops a NEWER, untracked
  // CORRECTNESS artifact into the tree after the round's final commit.
  // The committed INDEX_ROUND marker must keep regeneration pinned to
  // the round INDEX.md was generated against, so the suite survives
  // the round boundary.
  test("render ignores a newer untracked CORRECTNESS artifact") {
    val fake = repo.resolve("CORRECTNESS_r9999.json")
    val before = IndexGen.render(repo)
    Files.writeString(fake,
      """{"q01_pricing_summary": {"rows_match": false, "schema_match": false, "hash_match": false, "err": "fake"}}""")
    try assert(IndexGen.render(repo) == before,
      "INDEX regeneration changed when an untracked newer artifact appeared")
    finally Files.deleteIfExists(fake)
  }

  test("statuses read exactly the pinned round in a temp repo") {
    val dir = Files.createTempDirectory("graft-index")
    try {
      Files.writeString(dir.resolve("INDEX_ROUND"), "7\n")
      Files.writeString(dir.resolve("CORRECTNESS_r07.json"),
        """{"q01_x": {"rows_match": true, "schema_match": true, "hash_match": true}}""")
      Files.writeString(dir.resolve("CORRECTNESS_r99.json"),
        """{"q01_x": {"rows_match": false, "schema_match": true, "hash_match": false}}""")
      assert(IndexGen.pinnedRound(dir) == 7)
      assert(IndexGen.statuses(dir, IndexGen.pinnedRound(dir)) == Map("q01_x" -> "green"))
      // without a marker the fallback is the newest artifact
      Files.delete(dir.resolve("INDEX_ROUND"))
      assert(IndexGen.pinnedRound(dir) == 99)
      assert(IndexGen.statuses(dir, 99) == Map("q01_x" -> "RED"))
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
