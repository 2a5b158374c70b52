package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sequence packing: assign documents to fixed-capacity context windows
  * ("bins") so training batches waste as little padding as possible.
  *
  * Distributed shape: greedy first-fit-decreasing WITHIN each partition
  * (`mapPartitions`, no shuffle beyond the optional pre-partitioning).
  * Global optimality is not a goal — FFD inside a partition is within
  * 11/9·OPT+1 of that partition's optimum, and at 100 TB the only plans
  * that exist are partition-local ones. Bin ids are globally unique
  * (partition id in the high bits). Oversized documents (> capacity) get
  * a bin of their own (truncation/splitting is the tokenizer's decision,
  * not the packer's).
  */
object Packing {

  /** Split long documents into fixed-size token windows with overlap —
    * the chunking pass run BEFORE [[packSequences]] (whose contract
    * deliberately leaves oversized documents whole) and before
    * embedding/indexing jobs with a context limit. Chunk i covers tokens
    * `[i·stride, i·stride + maxTokens)` (stride = maxTokens − overlap);
    * consecutive chunks share `overlap` tokens, and a final window is
    * emitted only if it contributes at least one new token, so chunks
    * cover every token exactly and no chunk is contained in another.
    * Documents with zero tokens emit no rows.
    *
    * Pure per-row projection + explode: zero shuffles, scan-bound at any
    * corpus size, deterministic. Case and inner whitespace of the
    * original text are NOT preserved in `chunk_text` (tokens rejoin with
    * single spaces) — chunking operates on the token stream, like the
    * tokenizer it stands in for.
    */
  def chunkDocuments(
      docs: DataFrame, maxTokens: Int, overlap: Int = 0,
      textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(overlap >= 0 && overlap < maxTokens, "need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    val tk = s"filter(split(trim($textCol), ' +'), t -> t != '')"
    // integer ceil((n - overlap) / stride), clamped to >= 1 for any
    // non-empty doc (a doc shorter than the overlap is still one chunk)
    val nChunks =
      s"greatest(1, (size(__tk) - $overlap + ${stride - 1}) div $stride)"
    docs
      .withColumn("__tk", expr(tk))
      .filter(expr("size(__tk) >= 1"))
      .withColumn("chunk_id", explode(expr(
        // div yields BIGINT; chunk ids are INT by contract
        s"sequence(0, CAST($nChunks AS INT) - 1)")))
      .select(
        col("doc_id"), col("chunk_id"),
        expr(s"concat_ws(' ', slice(__tk, chunk_id * $stride + 1, $maxTokens))")
          .as("chunk_text"),
        expr(s"size(slice(__tk, chunk_id * $stride + 1, $maxTokens))")
          .as("n_tokens"))
  }

  /** Pack by whitespace-token count. Emits one row per document:
    * (doc_id, n_tokens, bin_id, bin_fill) where bin_fill is the bin's
    * total token count after packing.
    */
  def packSequences(
      docs: DataFrame, capacity: Int, textCol: String = "text"): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val sized = docs.select(
      col("doc_id"),
      expr(s"size(${TextAnalysis.tokensExpr(textCol)})").as("n_tokens"))
    val out = StructType(Seq(
      StructField("doc_id", sized.schema("doc_id").dataType),
      StructField("n_tokens", IntegerType),
      StructField("bin_id", LongType),
      StructField("bin_fill", IntegerType)))
    val packed = sized.mapPartitions { it =>
      val rows = it.toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        // first-fit-decreasing: sort by length desc (doc_id asc tiebreak
        // for determinism given the partition's row set)
        val sorted = rows.sortBy(r => (-r.getInt(1), r.get(0).toString))
        val binFill = scala.collection.mutable.ArrayBuffer.empty[Int]
        val assignment = sorted.map { r =>
          val n = r.getInt(1)
          var b = 0
          while (b < binFill.length && binFill(b) + n > capacity) b += 1
          if (b == binFill.length) binFill += 0
          binFill(b) += n
          (r.get(0), n, b)
        }
        assignment.iterator.map { case (id, n, b) =>
          Row(id, n, (pid << 32) | b.toLong, binFill(b))
        }
      }
    }(RowEncoder.encoderFor(out))
    packed
  }

  /** Engine-portable packing invariants as a single row — the oracle-able
    * face of [[packSequences]] (whose bin ids are partition-local by
    * design and thus engine-specific):
    *
    *  - `n_docs` / `n_tokens`: conservation — every document is packed
    *    exactly once and token mass is preserved, so both equal the same
    *    aggregates computed directly over the source corpus (the DuckDB
    *    oracle's side of the compare).
    *  - `fill_consistent`: every bin's recorded `bin_fill` equals the sum
    *    of its members' token counts (all members agree on the value).
    *  - `max_fill_ok`: no bin exceeds capacity, except a singleton bin
    *    holding one oversized (> capacity) document — the documented
    *    oversize contract.
    *  - `bins_lower_ok`: bin count ≥ #oversized docs + ceil(remaining
    *    tokens / capacity) — a valid OPT lower bound even with oversized
    *    documents, which occupy a bin alone and cannot share (a naive
    *    ceil(total/capacity) bound is NOT an invariant once a single
    *    oversized doc exists: its bin contributes `capacity` to the bound
    *    but more than `capacity` to the total).
    *  - `underfull_ok`: at most one bin PER PARTITION is ≤ half full —
    *    the first-fit guarantee (two half-empty bins in one FFD instance
    *    would have been merged); checked per partition id (high 32 bin-id
    *    bits), not as a global count, so a partition with two half-empty
    *    bins fails even when other partitions have none.
    *
    * The booleans are computed engine-side and must all be TRUE; the
    * oracle states the same invariants as literals next to its own exact
    * `n_docs`/`n_tokens` computation.
    */
  def packingInvariants(
      docs: DataFrame, capacity: Int, textCol: String = "text"): DataFrame = {
    val packed = packSequences(docs, capacity, textCol)
    val bins = packed.groupBy("bin_id").agg(
      sum(col("n_tokens").cast("long")).as("tok_sum"),
      min("bin_fill").as("fill_min"), max("bin_fill").as("fill_max"),
      count(lit(1)).as("n_docs_bin"), max("n_tokens").as("max_doc"))
    val checked = bins.select(
      col("tok_sum"), col("n_docs_bin"),
      (col("fill_min") === col("fill_max") && col("tok_sum") === col("fill_max"))
        .as("consistent"),
      (col("fill_max") <= capacity ||
        (col("n_docs_bin") === 1 && col("max_doc") > capacity)).as("cap_ok"),
      (col("n_docs_bin") === 1 && col("max_doc") > capacity).as("oversize_bin"),
      (col("fill_max") <= capacity / 2).as("underfull"),
      expr("shiftright(bin_id, 32)").as("part_id"))
    // per-partition FFD guarantee first (a global underfull count would
    // let two half-empty bins in one partition hide behind other
    // partitions), then fold everything to the one-row report
    checked.groupBy("part_id").agg(
        sum("n_docs_bin").as("p_docs"),
        sum("tok_sum").as("p_tokens"),
        expr("bool_and(consistent)").as("p_consistent"),
        expr("bool_and(cap_ok)").as("p_cap_ok"),
        count(lit(1)).as("p_bins"),
        sum(col("oversize_bin").cast("long")).as("p_oversize"),
        sum(when(col("oversize_bin"), 0L)
          .otherwise(col("tok_sum"))).as("p_rest_tokens"),
        (sum(col("underfull").cast("long")) <= 1L).as("p_underfull_ok"))
      .agg(
        sum("p_docs").as("n_docs"),
        sum("p_tokens").as("n_tokens"),
        expr("bool_and(p_consistent)").as("fill_consistent"),
        expr("bool_and(p_cap_ok)").as("max_fill_ok"),
        (sum("p_bins") >=
          sum("p_oversize") + ceil(sum("p_rest_tokens") / lit(capacity.toDouble)))
          .as("bins_lower_ok"),
        expr("bool_and(p_underfull_ok)").as("underfull_ok"))
  }

  /** Packing efficiency summary: bins, mean fill ratio, padding waste. */
  /** Deterministic corpus shard plan: globally shuffle the corpus into a
    * reproducible pseudo-random order (md5 of the id — the engine's
    * standard cross-engine uniform) and cut it into fixed-size training
    * shards, emitting `(doc_id, shuffle_key, ordinal, shard,
    * pos_in_shard)`. This is the "global shuffle before sharding" step
    * every training-data pipeline runs last — shard files must be a
    * random sample of the corpus (so data order doesn't correlate with
    * crawl order during training), yet byte-reproducible across runs,
    * engines, and input partitionings.
    *
    * The global ordinal is the [[Selection.tokenBudgetSelect]] two-pass
    * prefix-sum discipline with weight 1: ONE range shuffle on
    * (shuffle_key, doc_id), pass 1 reduces each range partition to a
    * single row COUNT (≤ shuffle-partition-count rows to the driver —
    * the bounded-collect class), pass 2 streams each partition once from
    * its exclusive offset. The naive form — `row_number() OVER (ORDER BY
    * shuffle_key)` — is ONE unpartitioned window task holding the
    * corpus, the shape this codebase bans. The result is a pure function
    * of the data (strict total order via the unique id tiebreak), so
    * range-bound placement cannot leak into the plan — property-tested
    * under arbitrary input repartitioning.
    *
    * `checkpointDir` picks how the offsets-consistent result is pinned
    * (the [[Dedup.components]] knob): None (default) `localCheckpoint`s —
    * executor block storage, no lineage fallback, corpus-sized rows
    * pinned, so on a real cluster one executor loss kills the job —
    * while Some(dir) writes a RELIABLE checkpoint (HDFS/S3), the 100 TB
    * posture. Identical result either way.
    */
  def shardPlan(
      docs: DataFrame, shardSize: Long,
      idCol: String = "doc_id", checkpointDir: Option[String] = None): DataFrame = {
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    val spark = docs.sparkSession
    import spark.implicits._
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val cached = Materialize.cache(docs.select(
        col(idCol).cast("long").as("doc_id"),
        md5(concat(lit("sh"), col(idCol).cast("string"))).as("shuffle_key"))
      .repartitionByRange(parts, col("shuffle_key").asc, col("doc_id").asc)
      .sortWithinPartitions(col("shuffle_key").asc, col("doc_id").asc))
    try {
      val keyed = cached.as[(Long, String)]
      val counts = keyed.mapPartitions { it =>
        var n = 0L; it.foreach(_ => n += 1L)
        Iterator.single((org.apache.spark.TaskContext.getPartitionId(), n))
      }.collect().toMap
      // exclusive prefix offset per range partition, in partition order
      // (range partition ids ARE the global order)
      val offsets = Array.tabulate(parts)(i => counts.getOrElse(i, 0L))
        .scanLeft(0L)(_ + _)
      val planned = keyed.mapPartitions { it =>
        var ord = offsets(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (id, h) =>
          val o = ord; ord += 1L
          (id, h, o, o / shardSize, o % shardSize)
        }
      }.toDF("doc_id", "shuffle_key", "ordinal", "shard", "pos_in_shard")
      // pin the offsets-consistent result: a downstream replan must not
      // recompute pass 2 against a re-ranged pass-1 (same contract as
      // tokenBudgetSelect)
      Materialize.pin(planned, eager = true, reliableDir = checkpointDir)
    } finally Materialize.release(cached)
  }

  def packingStats(packed: DataFrame, capacity: Int): DataFrame =
    packed
      .groupBy("bin_id").agg(expr("first(bin_fill)").as("fill"))
      .agg(
        expr("count(1)").as("n_bins"),
        expr(s"round(avg(CAST(fill AS DOUBLE) / $capacity.0), 6)").as("mean_fill_ratio"),
        expr(s"CAST(sum(greatest($capacity - fill, 0)) AS BIGINT)").as("padding_tokens"))
}
