package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Generates INDEX.md — the one-page query index (round-11 verdict
  * task 8): qNNN → one-liner → declaring pack file → latest
  * CORRECTNESS status. Derived, never hand-maintained: the name list
  * comes from SparkEntry.queries at runtime, the file and one-liner
  * from scanning the committed sources for the declaration literal,
  * and the status from the newest CORRECTNESS_r*.json. No line
  * numbers, so an edit inside a pack leaves the index as it is.
  * IndexSpec regenerates in-memory and asserts the committed file
  * matches, so the index can never drift from the code.
  */
object IndexGen {

  private val queryRoot = "src/main/scala/graft"

  /** (file, one-liner) for a query's declaration: the first
    * `"name" ->` occurrence across the source tree, with the one-liner
    * harvested from the contiguous `//` comment block directly above
    * it; ("?", "—") when no file declares it. */
  def locate(repo: Path, name: String): (String, String) = {
    val files = Files.walk(repo.resolve(queryRoot)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    val needle = "\"" + name + "\" ->"
    for (f <- files) {
      val lines = Files.readAllLines(f).asScala
      val i = lines.indexWhere(_.contains(needle))
      if (i >= 0) {
        var j = i - 1
        val comment = Seq.newBuilder[String]
        while (j >= 0 && lines(j).trim.startsWith("//")) {
          comment += lines(j).trim.stripPrefix("//").trim
          j -= 1
        }
        val text = comment.result().reverse.mkString(" ")
        val brief0 = text.split("[.:](\\s|$)").headOption.getOrElse("").trim
        val brief = (if (brief0.length > 110) brief0.take(107) + "..." else brief0)
          .replace("|", "\\|")
        val rel = repo.relativize(f).toString
        return (rel, if (brief.nonEmpty) brief else "—")
      }
    }
    ("?", "—")
  }

  /** Newest CORRECTNESS_r*.json round number present in `repo`
    * (0 if none) — what [[main]] pins INDEX_ROUND to. */
  def newestRound(repo: Path): Int = Files.list(repo).iterator().asScala
    .map(_.getFileName.toString)
    .filter(_.matches("CORRECTNESS_r\\d+\\.json"))
    .map(_.replaceAll("\\D", "").toInt).maxOption.getOrElse(0)

  /** The round INDEX.md was generated against: the committed
    * INDEX_ROUND marker. The marker — not "the newest artifact" —
    * decouples the committed index from UNTRACKED driver drops: the
    * driver writes CORRECTNESS_r{N+1}.json into the tree AFTER the
    * round's final commit, and a newest-file rule would flip the
    * status source under IndexSpec's regeneration compare (the only
    * red test of round 13). Falls back to the newest artifact only
    * when no marker exists (first run). */
  def pinnedRound(repo: Path): Int = {
    val marker = repo.resolve("INDEX_ROUND")
    if (Files.exists(marker)) Files.readString(marker).trim.toInt
    else newestRound(repo)
  }

  /** name → "green" | "RED" | "new" from round `round`'s
    * CORRECTNESS_r*.json (absent file → everything "new"). Tiny hand
    * parser — the file is driver-authored flat JSON, and tests have
    * no JSON dependency. */
  def statuses(repo: Path, round: Int): Map[String, String] = {
    val p = repo.resolve(f"CORRECTNESS_r$round%02d.json")
    if (round <= 0 || !Files.exists(p)) Map.empty
    else {
      val s = Files.readString(p)
      // per-query objects: "qNN_name": {..."hash_match": true/false...}
      val entry = """"(q[^"]+)"\s*:\s*\{([^}]*)\}""".r
      entry.findAllMatchIn(s).map { m =>
        val body = m.group(2)
        val ok = Seq("rows_match", "schema_match", "hash_match")
          .forall(k => body.contains(s""""$k": true"""))
        m.group(1) -> (if (ok) "green" else "RED")
      }.toMap
    }
  }

  def render(repo: Path): String = {
    val round = pinnedRound(repo)
    val st = statuses(repo, round)
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val (file, brief) = locate(repo, name)
      val status = st.getOrElse(name, "new")
      s"| $name | $brief | $file | $status |"
    }
    // NOT stripMargin-built: the table rows' leading '|' would be
    // eaten as margin characters
    s"""# Query index
       |
       |Generated by `sbt "runMain graft.IndexGen"` — do not edit by
       |hand (IndexSpec fails if this file drifts from the code).
       |Status column = the latest driver correctness artifact
       |(CORRECTNESS_r$round.json): `green` = rows+schema+hash all
       |match the DuckDB oracle, `RED` = a mismatch, `new` = added
       |since that round.
       |
       |${SparkEntry.queries.size} queries.
       |""".stripMargin +
      "\n| query | what it is | declared at | status |\n" +
      "|---|---|---|---|\n" + rows.mkString("\n") + "\n"
  }

  def main(args: Array[String]): Unit = {
    val repo = Paths.get(".").toAbsolutePath.normalize
    // regeneration re-pins to the newest artifact present NOW; both
    // files commit together, so IndexSpec's compare stays stable when
    // the driver later drops a newer (untracked) CORRECTNESS file
    Files.writeString(repo.resolve("INDEX_ROUND"), s"${newestRound(repo)}\n")
    Files.writeString(repo.resolve("INDEX.md"), render(repo))
    println(s"INDEX.md: ${SparkEntry.queries.size} queries " +
      s"(status round ${pinnedRound(repo)})")
  }
}
