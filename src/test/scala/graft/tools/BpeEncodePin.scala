package graft.tools

import org.apache.spark.sql.functions._

/** sf1 correctness pin for `v4_bpe_encode` via an INDEPENDENT second
  * encoder (round-12 gap: the engine encodes 100k sf1 docs fine, but
  * the DuckDB oracle's unrolled list rebuild over ~50M position rows
  * exhausts oracle memory, so v4's hash pin stopped at sf0.1).
  *
  * The comparator is a plain per-row Scala greedy scan — the same
  * reference semantics the PropertySpec/LmSpec driver-side trainers
  * pin, here run DISTRIBUTED as a typed Dataset map so it reaches any
  * scale the engine does. It shares no code with the engine path (the
  * `graft_bpe_encode` kernel, [[graft.expressions.BpeMergeKernel]],
  * with its token-presence skip): a plain index scan per merge — a
  * drift in either implementation of greedy left-to-right
  * non-overlapping merge fails the exceptAll below.
  *
  * Output: row counts of both encodings and the symmetric exceptAll
  * difference (want 0) over the FULL 4-column contract
  * (doc_id, n_tokens_raw, n_tokens_bpe, encoded_text).
  *
  * Usage: tools/run-main.sh graft.tools.BpeEncodePin <sfDir> [rounds]
  */
object BpeEncodePin {

  /** Greedy left-to-right non-overlapping single-merge pass. */
  private def greedy(toks: Array[String], a: String, b: String,
                     joiner: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += (a + joiner + b); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("testdata/sf1")
    val rounds = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.core.GraftSession.get()
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val merges = graft.operators.Lm.bpeMerges(docs, "doc_id", "text",
        rounds = rounds)
      .orderBy(col("round")).collect()
      .map { r => val Array(a, b) = r.getString(1).split(" ", 2); (a, b) }
      .toSeq
    println(s"[bpepin] trained $rounds merges: ${merges.mkString(", ")}")
    val engine = graft.operators.Lm.bpeEncode(docs, "doc_id", "text", merges)
    val mergesB = spark.sparkContext.broadcast(merges)
    val reference = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val raw = Option(text).getOrElse("").trim
          .split("\\s+").filter(_.nonEmpty)
        val enc = mergesB.value.foldLeft(raw) {
          case (t, (a, b)) => greedy(t, a, b, "~")
        }
        (id, raw.length, enc.length, enc.mkString(" "))
      }
      .toDF("doc_id", "n_tokens_raw", "n_tokens_bpe", "encoded_text")
    val n1 = engine.count(); val n2 = reference.count()
    val diff = engine.exceptAll(reference).count() +
      reference.exceptAll(engine).count()
    println(s"[bpepin] engine rows=$n1 reference rows=$n2 " +
      s"symmetric-diff rows=$diff " +
      (if (n1 == n2 && diff == 0) "=> MATCH" else "=> MISMATCH"))
    if (n1 != n2 || diff != 0) sys.exit(1)
    spark.stop()
  }
}
