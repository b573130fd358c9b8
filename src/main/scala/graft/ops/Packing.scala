package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training — mapping documents onto fixed-size
  * context windows. Tokenized documents are concatenated in deterministic
  * (shard, doc_id) order and cut every `ctxTokens` tokens; each document is
  * assigned the sequence containing its first token plus its offset inside
  * it — the bookkeeping a dataloader needs to pack batches without
  * materializing the concatenation.
  *
  * Shape at scale: one window prefix-sum PER SHARD (lang/source/file), so
  * no global sort ever happens — each shard's running total sorts within
  * its own partitions, and shards pack independently exactly like a real
  * pipeline packs per input shard. The cost is the per-shard sort; at
  * 100 TB the shard column is the ingest file/partition id, bounding every
  * window to one task's data.
  */
object Packing {

  /** (doc_id, shard, n_tokens, seq_id, seq_offset) per document. seq_id
    * counts fixed-`ctxTokens` windows within the shard (the `lang`
    * column); seq_offset is the document's first-token position inside
    * its sequence. Whitespace token count stands in for the tokenizer
    * (swap the column expression for a real BPE count; nothing else
    * changes). */
  def sequencePack(docs: DataFrame, ctxTokens: Int = 2048): DataFrame = {
    val nTok = size(split(col("text"), "\\s+")).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ctx = lit(ctxTokens.toLong)
    val start = col("end_tok") - col("n_tokens")
    docs.select(col("doc_id"), col("lang").as("shard"), nTok.as("n_tokens"))
      .withColumn("end_tok", sum(col("n_tokens")).over(w))
      // start - pmod(start, ctx) is exactly divisible -> exact double div
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        ((start - pmod(start, ctx)) / ctx).cast("long").as("seq_id"),
        pmod(start, ctx).as("seq_offset"))
      .orderBy(col("doc_id"))
  }

  /** Byte-budget shard manifest for multimodal exports — the WebDataset /
    * tar-shard writer plan: assets lay out in deterministic (group,
    * doc_id) order and cut into 64 KiB shards; each asset gets
    * the shard containing its first byte plus its offset in the stream.
    * Same per-group prefix-sum shape as sequencePack — no global sort;
    * at 100 TB the group column is the ingest partition, bounding every
    * window to one task's assets. Oversized assets land in the shard of
    * their first byte (real writers split or reject those downstream). */
  def shardManifest(assets: DataFrame, bytesCol: String,
                    groupCol: String): DataFrame = {
    val shardBytes = 65536L
    val w = Window.partitionBy(col("grp")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val sb = lit(shardBytes)
    val start = col("end_b") - col("n_bytes")
    assets.select(col("doc_id"), col(groupCol).as("grp"),
        col(bytesCol).as("n_bytes"))
      .withColumn("end_b", sum(col("n_bytes")).over(w))
      .select(col("doc_id"), col("grp"), col("n_bytes"),
        ((start - pmod(start, sb)) / sb).cast("long").as("shard_id"),
        pmod(start, sb).as("shard_offset"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-size overlapping chunking — the RAG / long-context
    * preprocessing cut: each document's token stream becomes
    * `chunkTokens`-token windows advancing by `chunkTokens − overlap`, so
    * consecutive chunks share `overlap` tokens of context. Emits
    * bookkeeping plus a content fingerprint per chunk (md5 of the chunk
    * text) rather than the text itself — what an index builder keys on.
    *
    * Scale shape: pure per-row fan-out (sequence + posexplode inside the
    * row) — zero shuffles, zero joins; the whole operator is a map over
    * the scan, like tokenStats. Tokenization is the shared
    * normalize-then-split contract (case preserved). */
  def chunkOverlap(docs: DataFrame, chunkTokens: Int = 64,
                   overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap/$chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"),
        split(graft.etl.functions.normalizeText(col("text")), " ").as("__t"))
      .select(col("doc_id"), col("__t"), size(col("__t")).as("n"))
      .select(col("doc_id"), col("n"), col("__t"),
        posexplode(sequence(lit(1), greatest(col("n"), lit(1)),
          lit(stride))).as(Seq("chunk_idx", "start_tok")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(chunkTokens), col("n") - col("start_tok") + 1).cast("long")
          .as("n_chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("__t"), col("start_tok"), lit(chunkTokens)))).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }
}
