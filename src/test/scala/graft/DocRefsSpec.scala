package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The run instructions in README.md, the verify skill and the
  * tools/ shell scripts name only mains and SPARK_GRAFT_* knobs that
  * still exist. */
class DocRefsSpec extends AnyFunSuite {
  private val repo = Paths.get(".").toAbsolutePath.normalize

  private def files(dir: Path, suffix: String): Seq[Path] =
    Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(suffix)).toSeq

  private val docs: Seq[Path] =
    Seq(repo.resolve("README.md"), repo.resolve(".claude/skills/verify/SKILL.md"))
      .filter(Files.exists(_)) ++
      Files.list(repo.resolve("tools")).iterator.asScala
        .filter(_.toString.endsWith(".sh")).toSeq.sorted

  private def mentions(pattern: String): Seq[(String, String)] = {
    val re = pattern.r
    docs.flatMap { p =>
      re.findAllMatchIn(Files.readString(p))
        .map(m => (repo.relativize(p).toString, m.group(1)))
    }.distinct
  }

  test("every runMain graft.X resolves to an object with a main") {
    val named = mentions("""runMain\s+graft\.([A-Za-z0-9_.]+)""")
    assert(named.exists(_._2 == "Bench"), "expected README to name graft.Bench")
    val missing = named.filterNot { case (_, obj) =>
      scala.util.Try(Class.forName(s"graft.$obj")
        .getMethod("main", classOf[Array[String]]))
        .toOption.exists(m => Modifier.isStatic(m.getModifiers))
    }
    assert(missing.isEmpty, s"runMain targets with no main: $missing")
  }

  test("every SPARK_GRAFT_* knob mentioned is read in src/main") {
    val literal = """"(SPARK_GRAFT_[A-Z0-9_]+)"""".r
    val read = files(repo.resolve("src/main"), ".scala")
      .flatMap(p => literal.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
    assert(read.contains("SPARK_GRAFT_SF_DIR"))
    val stale = mentions("""(SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9])""").filterNot(m => read(m._2))
    assert(stale.isEmpty, s"knobs no code reads: $stale")
  }
}
