package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Mechanical audit of every sampled-boundary exchange in the engine
  * (r16 verdict #1). `repartitionByRange` samples its partition
  * boundaries with an RDD-id-seeded sampler; if the ranged frame feeds
  * MORE THAN ONE consumer subtree and exchange reuse fails (column
  * pruning differentiating the subtrees is enough), the two legs sample
  * DIFFERENT boundaries and any per-partition arithmetic built on them
  * (spark_partition_id + offsets) silently corrupts. This bug shipped
  * twice — `Warehouse.withDenseKeyRanged` (r14) and
  * `Packing.packSequences` (r16) — each time invisible at sf0.01. Both
  * now share one site, `Warehouse.rangedRunningSum`; the other is
  * `Clustering.clusteredWrite`'s single-consumer write.
  *
  * The audit: every `repartitionByRange` call site in src/main must,
  * within its enclosing expression (the following lines up to the next
  * blank line or 25 lines), either
  *  - pin its materialization with `localCheckpoint` (one sampling, one
  *    set of boundaries, shared by all consumers), or
  *  - carry the literal marker `SINGLE-CONSUMER CONTRACT` in a comment
  *    directly above, committing (reviewably) that exactly one consumer
  *    exists and no value depends on where the boundaries fall.
  *
  * A new ranged operator that does neither fails THIS spec at compile
  * time of the round, not a DuckDB gate three rounds later. The
  * recurring runtime check is tools/determinism_lane.sh (full surface,
  * twice, fresh AQE-off JVMs, hash diff).
  */
class RangeExchangeAuditSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  test("every repartitionByRange site is pinned or contract-marked") {
    val root = Paths.get("src/main/scala/graft")
    val sites = for {
      f <- scalaFiles(root)
      lines = Files.readAllLines(f).asScala.toVector
      (line, i) <- lines.zipWithIndex
      if line.contains("repartitionByRange")
      // CODE sites only — a comment/scaladoc mentioning the API is not
      // an exchange
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
    } yield {
      // context: the 20 lines above (contract comment) and the
      // following lines to the next blank line or 25 lines (the
      // enclosing expression, where the pin must sit)
      val above = lines.slice((i - 20).max(0), i)
      val budget = lines.slice(i, (i + 25).min(lines.length))
      val below = budget.takeWhile(_.trim.nonEmpty) match {
        case nonEmpty if nonEmpty.nonEmpty => nonEmpty
        case _ => budget
      }
      val pinned = below.exists(_.contains("localCheckpoint"))
      val contracted = above.exists(_.contains("SINGLE-CONSUMER CONTRACT"))
      (s"$f:${i + 1}", pinned, contracted)
    }
    assert(sites.nonEmpty, "audit found no repartitionByRange sites — " +
      "the scan root moved?")
    val naked = sites.filterNot { case (_, p, c) => p || c }
    assert(naked.isEmpty,
      s"unaudited sampled-range exchange(s): ${naked.map(_._1).mkString(", ")} " +
        "— pin with .localCheckpoint(false) or add the SINGLE-CONSUMER " +
        "CONTRACT comment (see Clustering.clusteredWrite)")
    // inventory, printed so the round's SCALE.md table can cite it
    sites.foreach { case (site, p, c) =>
      info(s"$site -> ${if (p) "pinned (localCheckpoint)" else "single-consumer contract"}")
    }
  }
}
