package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine's one-of-each surfaces: every main, tool and spec
  * builds its session through [[graft.core.GraftSession.builder]], so no
  * other main source may call Spark's session builder itself; and every
  * MinHash signature frame is built through the one aggregate site. */
class EngineSurfaceSpec extends AnyFunSuite {

  test("only core/GraftSession.scala calls Spark's session builder") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing $root")
    val factory = root.resolve("graft/core/GraftSession.scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val builder = raw"SparkSession\s*\.\s*builder".r
    def builds(p: Path) = builder.findFirstIn(Files.readString(p)).isDefined
    assert(builds(factory), s"$factory no longer builds the session")
    val offenders = sources.filter(p => p != factory && builds(p)).map(_.toString).sorted
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.builder instead: ${offenders.mkString(", ")}")
  }

  test("the MinHash signature aggregate is constructed at exactly one site") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing $root")
    val ctor = raw"new\s+MinhashArrayAgg\b".r
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val sites = sources.flatMap(p =>
      Seq.fill(ctor.findAllIn(Files.readString(p)).length)(p.toString))
    assert(sites.size == 1,
      s"build signatures through Dedup.minhashAgg: ${sites.size} sites in ${sites.distinct.sorted.mkString(", ")}")
  }
}
