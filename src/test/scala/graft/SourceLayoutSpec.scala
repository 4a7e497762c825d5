package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the main source tree's entry points in one shape: sessions come
  * from [[Session.local]] (or the user-configured
  * [[graft.io.Config.sparkSession]]), thread pools from [[Bounded.map]],
  * PG element JSON from the one native writer that [[graft.etl.PgGraph]]
  * calls, Spark's in-memory percentile aggregates from
  * [[graft.ops.stats.Stats]] alone, every operator is batch (no
  * Structured Streaming source, sink or state), and every main that ships
  * is named in README's tool list, which names no other.
  */
class SourceLayoutSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p) -> Files.readString(p))
      .toSeq

  test("SparkSession.builder appears only in the session factory and Config") {
    val sites = sources.collect {
      case (p, src) if src.contains("SparkSession.builder") => p.toString
    }.sorted
    assert(sites === Seq("graft/Session.scala", "graft/io/Config.scala").sorted)
  }

  test("java.util.concurrent.Executors appears only in the bounded-concurrency helper") {
    val sites = sources.collect {
      case (p, src) if """\bExecutors\b""".r.findFirstIn(src).isDefined => p.toString
    }.sorted
    assert(sites === Seq("graft/Bounded.scala"))
  }

  test("the library is batch only: no streaming package, source, sink or state") {
    assert(!Files.exists(root.resolve("graft/streaming")))
    for (api <- Seq("readStream", "writeStream", "GroupState")) {
      assert(sources.filter(_._2.contains(api)).map(_._1.toString) === Seq.empty,
        s"$api appears in src/main")
    }
  }

  test("PG elements have one JSON writer and one property-value form") {
    val writers = sources.collect {
      case (p, src) if src.contains("""call_function("graft_pg_element_json"""") => p.toString
    }
    assert(writers === Seq("graft/etl/PgGraph.scala"))
    // no Column-built writer beside the native one
    assert(sources.filter(_._2.contains("""map_entries(col("properties"))""")).map(_._1.toString) ===
      Seq.empty)
    assert(sources.filter(_._2.contains("primitivesAsString")).map(_._1.toString) === Seq.empty)
  }

  test("the in-memory percentile aggregates appear only in Stats") {
    // Stats.percentilesExact calls them only under its input-size bound;
    // a call anywhere else would buffer a fact-sized group's values
    val aggregate = """(?<![A-Za-z_])percentile(\(|_disc)""".r
    val sites = sources.collect {
      case (p, src) if aggregate.findFirstIn(src).isDefined => p.toString
    }
    assert(sites === Seq("graft/ops/stats/Stats.scala"))
  }

  test("README's tool list names exactly the mains that ship") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = sources.flatMap { case (_, src) =>
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1)).get
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        // the innermost object declared before the `def main`
        val obj = objectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
        s"$pkg.$obj"
      }
    }.toSet
    assert(mains.contains("graft.Bench") && mains.contains("graft.Verify"))

    val readme = Files.readString(Paths.get("README.md"))
    val from = readme.indexOf("## Layout / verification")
    assert(from >= 0, "README has no tool list section")
    val next = readme.indexOf("\n## ", from + 1)
    val toolList = readme.substring(from, if (next < 0) readme.length else next)
    val named = """`(graft\.[\w.]+)[` ]""".r.findAllMatchIn(toolList).map(_.group(1)).toSet
    assert(named === mains)
  }
}
