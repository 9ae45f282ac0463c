package graft.annotate

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dict.{AnnotatorModel, AutomatonBuild}

/** SURVEY.md §5's ">driver-memory escape hatch", made real: dictionaries too
  * large to finalize/broadcast as ONE automaton are split into `k` term-id
  * shards, each built and broadcast independently. The scan is
  * [[NativeAnnotate.annotateMatchesSharded]]: one corpus pass, all shard
  * automatons resolved per task. The DRIVER peak drops to one shard at a
  * time (the driver-side finalize `Automaton.fromTrie` + the payload collect
  * are the build-time memory ceiling — per-shard they are 1/k of it), while
  * executors hold all k shards (same total bytes as the single automaton,
  * but broadcast as k independently-GC-able blocks).
  *
  * Correctness invariant (spec-pinned in `ShardedSpec`): term-partitioned
  * Aho-Corasick automatons are independent — the union of per-shard hit sets
  * equals the full-dictionary hit set. The ONE cross-shard semantic is
  * `longest_only`: it must be applied to the UNION of hits (a shard-local
  * longest filter would keep a short match whose longer overlapper lives in
  * another shard), so shards scan with `longestOnly=false` and the combined
  * buffer runs the same `longestPerStartInPlace` the single automaton uses.
  *
  * Sharding key is `term_id % k`, which makes a hit's owning shard
  * recoverable as `termId % k` — payload resolution needs no per-hit origin
  * tracking and no merged lookup table.
  */
object Sharded {

  /** Split a built dictionary (D5/D6 output) into k term-id shards, with
    * ids REMAPPED to shard-local (`local = global / k`; shard s holds the
    * globals ≡ s mod k, so locals are dense and `global = local·k + s` is
    * recoverable). The remap is the point of the whole feature: each
    * shard's payload array is sized by its own max LOCAL id — O(N/k) —
    * where keeping global ids would size every shard's array by the GLOBAL
    * max (O(N) of mostly-null slots per shard, un-sharding the driver peak
    * and every broadcast; caught in round-2b self-review). */
  def splitDict(dict: DataFrame, numShards: Int): Seq[DataFrame] = {
    require(numShards >= 1, "numShards must be >= 1")
    (0 until numShards).map(sIdx =>
      dict.filter(pmod(col("term_id"), lit(numShards)) === sIdx)
        .withColumn("term_id", (col("term_id") / numShards).cast("int")))
  }

  /** Build + broadcast one model per shard, sequentially — the whole point:
    * the driver's build-time peak (trie finalize + payload collect) is one
    * shard, not the full dictionary. Build-time dictionary-side jobs per
    * shard are fine (the build already runs several actions per shard).
    * `numShards` must not exceed the distinct term count (dense ids 0..N
    * guarantee non-empty shards for k <= N+1). */
  def buildModels(spark: org.apache.spark.sql.SparkSession, dict: DataFrame,
                  version: String, numShards: Int): Seq[Broadcast[AnnotatorModel]] =
    splitDict(dict, numShards).zipWithIndex.map { case (shard, sIdx) =>
      AutomatonBuild.broadcastModel(spark,
        AutomatonBuild.build(spark, shard, s"$version-shard$sIdx"))
    }
}
