package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines: lay documents
  * head-to-tail on a token tape in a deterministic order and chunk the
  * tape into fixed-budget bins (the concat-then-chunk packing most
  * pretraining data loaders implement). Output per document: its global
  * `start_offset` on the tape, the `bin_id` its first token lands in,
  * and the `bin_offset` within that bin.
  *
  * Scale shape: the tape offsets are [[Warehouse.rangedRunningSum]] —
  * no corpus-sized single-task window anywhere; the data-sized work is
  * one range exchange.
  */
object Packing {

  /** Adds `start_offset`, `bin_id`, `bin_offset` for packing
    * `tokenCol`-sized documents in `orderCol` order into `budget`-token
    * bins. Integral arithmetic throughout (`div`/`pmod`) — exact at any
    * tape length a 64-bit offset can address. A document's start is the
    * [[Warehouse.rangedRunningSum]] of the token counts up to and
    * including it, minus its own count; that helper documents why its
    * ranged frame is materialized exactly once. */
  def packSequences(df: DataFrame, tokenCol: String, orderCol: String,
                    budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val tokens = col(tokenCol).cast("long")
    Warehouse.rangedRunningSum(df, Seq(orderCol), tokens, "start_offset")
      .withColumn("start_offset", col("start_offset") - tokens)
      .withColumn("bin_id", expr(s"start_offset div ${budget}L"))
      .withColumn("bin_offset", pmod(col("start_offset"), lit(budget)))
  }

  /** Overlapping token-window chunking — the retrieval/RAG-style
    * splitter: each document becomes windows of ≤ `size` tokens whose
    * starts step by `size - overlap`, so consecutive chunks share
    * `overlap` tokens and every token is covered. The tail chunk may be
    * shorter (standard convention), but a window fully contained in its
    * predecessor is never emitted: starts stop at `n - 1 - overlap`, so
    * every non-initial chunk ends strictly past the previous chunk's
    * end (a start inside the previous window's tail would otherwise
    * duplicate already-covered text for RAG consumers — e.g. 60 tokens
    * at size=64/stride=48 must be ONE chunk, not a 60-token chunk plus
    * a contained 12-token echo). A doc of ≤ `size` tokens is therefore
    * exactly one chunk.
    *
    * Pure expressions over one tokenize pass (geometry is arithmetic on
    * the token array — no UDF, no shuffle at all: chunking is
    * embarrassingly per-row, the explode just multiplies rows ~n/stride
    * per doc). Output: (idCol, chunk_idx, start_tok, n_toks,
    * chunk_text), chunk_text re-joined with single spaces (the
    * tokenizer's whitespace classes collapse — documented, and the SQL
    * oracle reproduces it verbatim). */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  size: Int = 64, overlap: Int = 16): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"chunkTokens: size=$size overlap=$overlap")
    val stride = size - overlap
    val toks = graft.functions.TextAnalysis.tokens(col(textCol))
    docs
      .select(col(idCol), toks.as("__toks"))
      .filter(size_(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0),
          greatest(lit(0), size_(col("__toks")) - 1 - overlap), lit(stride)))
          .as(Seq("chunk_idx", "start_tok")))
      .withColumn("__chunk", slice(col("__toks"), col("start_tok") + 1, lit(size)))
      .select(col(idCol), col("chunk_idx"), col("start_tok"),
        size_(col("__chunk")).as("n_toks"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }

  // functions.size shadowed by the param name in chunkTokens
  private def size_(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.size(c)
}
