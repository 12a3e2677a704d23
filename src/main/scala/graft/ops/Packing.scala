package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget sequence packing for pretraining pipelines: documents are
  * concatenated in a deterministic order and chunked into fixed-budget
  * training sequences; each document is assigned the sequence its first
  * token lands in (the concat-then-split convention), plus its token
  * offset within that stream.
  *
  * Scale design: a single global ordering would be one giant window — a
  * total sort through one partition, unusable at 100 TB. Packing is
  * therefore BUCKETED: documents hash into `buckets` independent streams
  * (deterministically, `doc_id % buckets`), and the running-total window
  * partitions by bucket — every bucket packs in parallel and the window
  * state per task is one running sum. Sequences are identified by
  * (bucket, seq_no), which downstream loaders consume independently —
  * exactly how sharded pretraining data is laid out anyway.
  */
object Packing {

  /** Assign each document a training sequence under `budget` tokens per
    * sequence. Returns the input plus `bucket`, `seq_id` ("b-n" string),
    * and `tok_offset` (the doc's first-token offset inside its bucket's
    * concatenated stream).
    *
    * @param tokenCol precomputed token count (e.g.
    *                 [[TextAnalysis.wsTokenCount]] materialized)
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      budget: Long,
      buckets: Int = 64
  ): DataFrame = {
    val w = Window.partitionBy("bucket").orderBy(col(idCol))
    df.withColumn("bucket", pmod(col(idCol), lit(buckets.toLong)))
      .withColumn("tok_offset", sum(col(tokenCol)).over(w) - col(tokenCol))
      .withColumn("seq_id",
        concat_ws("-", col("bucket"),
          floor(col("tok_offset") / lit(budget)).cast("long")))
  }

  /** Sliding-window document chunking — the windowing step RAG indexes
    * and long-document pretraining both run: each document becomes
    * ceil((n - overlap) / stride) word-window chunks of up to
    * `chunkTokens` words, consecutive chunks sharing `overlap` words so
    * no boundary context is lost. Chunk starts are the arithmetic
    * sequence 0, stride, 2·stride… (stride = chunkTokens − overlap), so
    * chunk_idx = start / stride is derivable in any engine — the q61
    * oracle states exactly that.
    *
    * Scale shape: zero shuffle — the fan-out is a `posexplode` inside the
    * stage (1:N like [[graft.ops.Multimodal.frameSampleStub]]), output
    * volume ≈ input × (1 + overlap/stride). Short documents yield exactly
    * one (possibly short) chunk, so the operator is total over the
    * corpus.
    *
    * @param chunkTokens max words per chunk
    * @param overlap     words shared between consecutive chunks
    *                    (0 ≤ overlap < chunkTokens)
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      overlap: Int = 0
  ): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): $overlap vs $chunkTokens")
    val stride = chunkTokens - overlap
    df.select(
      col(idCol).as("doc_id"), split(col(textCol), " ").as("__ws"))
      .withColumn("__n", size(col("__ws")))
      // last start: the largest stride multiple that still contributes a
      // NEW word. A start at s only adds words beyond the previous
      // chunk's end when s < n - overlap, so the inclusive sequence
      // bound is n - 1 - overlap (floored at 0 so short docs keep their
      // single chunk) — a bound of n - 1 would emit a tail chunk that is
      // a strict subset of its predecessor whenever the document length
      // mod stride lands in 1..overlap, silently duplicating content
      // into the chunk stream. Coverage is preserved: the last start is
      // > n - 1 - overlap - stride, so start + chunkTokens >= n.
      .select(
        col("doc_id"), col("__ws"), col("__n"),
        posexplode(sequence(
          lit(0), greatest(col("__n") - 1 - overlap, lit(0)), lit(stride)))
          .as(Seq("chunk_idx", "__start")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(chunkTokens), col("__n") - col("__start")).cast("long")
          .as("n_tokens"),
        concat_ws(" ", slice(col("__ws"), col("__start") + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** Deterministic training-shard export: a reproducible global shuffle
    * of the corpus into `nShards` shards, WITHOUT a global sort. Every
    * epoch-shuffle / export step a pretraining pipeline runs is exactly
    * this: documents land in shard `md5(salt‖id) mod nShards` and are
    * ordered inside the shard by a second independent hash — so the
    * training order is (a) pseudorandom, (b) bit-reproducible from
    * (salt, ids) alone on any engine and any partitioning, and (c) a
    * different permutation per salt (one salt per epoch).
    *
    * Scale shape: shard assignment is a map-side expression; the only
    * exchange is one hash shuffle on `shard` (uniform by construction —
    * md5 equidistributes ids), and the within-shard position is a
    * rank window over that same partitioning. No stage ever holds more
    * than one shard's keys; writing `partitionBy(shard)` after this is
    * a straight append. A global `orderBy(random)` — the naive spelling
    * — would funnel 100 TB through a range sort; this never sorts more
    * than one shard, and shards are sized to executor memory by picking
    * `nShards`. Measured (TextScaleProbe, sf0.1 → 10×, 64
    * shards): 0.13 s → 0.36 s for 10× data.
    *
    * @return input plus `shard` and `shard_pos` (0-based rank inside
    *         the shard)
    */
  def shardExport(
      df: DataFrame,
      idCol: String,
      nShards: Int,
      salt: String = ""
  ): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    // 12 hex digits = 48 bits of hash feeding the modulo: the floor/ceil
    // imbalance of (2^48 mod nShards) keeps shard-size skew below
    // nShards/2^48 (~4e-9 even at a million shards) — 4 digits would
    // skew 2x at nShards ~ 40k and leave shards beyond 65535 empty
    val shard = pmod(
      conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 12),
        16, 10).cast("long"),
      lit(nShards.toLong))
    val orderKey = md5(concat(lit("o"), lit(salt), col(idCol).cast("string")))
    val w = Window.partitionBy("shard")
      .orderBy(orderKey.asc, col(idCol).asc)
    df.withColumn("shard", shard)
      .withColumn("shard_pos", (row_number().over(w) - 1).cast("long"))
  }
}
