package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Writers

/** Multi-dimensional clustering for data skipping — the write-layout
  * story behind Delta/Iceberg `OPTIMIZE ZORDER` (public docs) and the
  * classic Morton-curve literature: interleave the bits of two sort
  * dimensions so rows close in EITHER dimension land close on the
  * 1-D curve, then range-partition + sort files by the curve key.
  * Parquet min/max footers per file then prune on BOTH dimensions for
  * point/range predicates — at 100 TB the difference between scanning
  * one file and scanning the table. (A plain lexicographic sort skips
  * only on the leading column; the curve trades a little locality on
  * each dimension for locality on all of them.)
  *
  * Everything here is pure integer arithmetic (shift/mask, disjoint-bit
  * addition) — codegen-friendly, no UDF, and mirrorable 1:1 into ANSI
  * SQL (the gate's oracle is generated from the same bit loop, so the
  * interleave is cross-checked bit-for-bit in DuckDB).
  */
object Clustering {

  /** Morton (Z-order) key of two non-negative dimensions: bit i of `a`
    * goes to bit 2i, bit i of `b` to bit 2i+1; `bits` bits per
    * dimension (inputs are masked to that width first — callers
    * bucketize wider or signed domains beforehand). Disjoint bit
    * positions make `+` an OR, so the whole key is one codegen'd
    * arithmetic expression. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 31, s"zValue: bits=$bits")
    val m = 1L << bits
    val am = pmod(a.cast("long"), lit(m))
    val bm = pmod(b.cast("long"), lit(m))
    (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftright(am, i).bitwiseAND(lit(1L)), 2 * i),
          shiftleft(shiftright(bm, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)
  }

  /** The identical interleave as a DuckDB SQL expression over column
    * expressions `a` and `b` — generated from the same loop so engine
    * and oracle can never drift. */
  def zValueSql(a: String, b: String, bits: Int = 16): String = {
    require(bits > 0 && bits <= 31, s"zValueSql: bits=$bits")
    val m = 1L << bits
    val am = s"((($a) % $m + $m) % $m)"
    val bm = s"((($b) % $m + $m) % $m)"
    (0 until bits).flatMap { i =>
      Seq(s"((($am >> $i) & 1) << ${2 * i})",
          s"((($bm >> $i) & 1) << ${2 * i + 1})")
    }.mkString("(", " + ", ")")
  }

  /** Write `df` clustered by the Z-curve over (`aCol`, `bCol`): compute
    * the key, range-partition into `files` output files, sort each file
    * by the key. Range partitioning gives files DISJOINT key intervals
    * (equal keys hash^Wrange to one partition), which is exactly the
    * property parquet footer pruning needs — the spec reads each file
    * back and asserts the intervals never interleave. */
  def clusteredWrite(df: DataFrame, path: String, aCol: String, bCol: String,
                     files: Int = 8, bits: Int = 16): Unit =
    // SINGLE-CONSUMER CONTRACT (the range-exchange audit, SCALE.md r17):
    // this `repartitionByRange` feeds exactly ONE consumer — the write
    // sink below — so the sampled-boundary bug class that bit
    // Warehouse.withDenseKeyRanged (r14) and Packing.packSequences (r16)
    // cannot apply: there is no second subtree to sample different
    // boundaries. The boundaries only decide WHICH file a row lands in,
    // never a computed value; the layout property the spec asserts
    // (disjoint per-file zkey intervals) holds for ANY boundary choice,
    // and z1's gate reads the rows back boundary-independently. If a
    // second consumer of the ranged frame is ever added, pin the
    // materialization with .localCheckpoint(false) like
    // Warehouse.rangedRunningSum.
    Writers.parquet(df.withColumn("zkey", zValue(col(aCol), col(bCol), bits))
      .repartitionByRange(files, col("zkey"))
      .sortWithinPartitions(col("zkey")), path)
}
