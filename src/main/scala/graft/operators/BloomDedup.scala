package graft.operators

import java.io.ByteArrayInputStream

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.catalyst.GraftExtensions

/** Bloom-gated incremental dedup (SURVEY.md §2.D1, the 100 TB membership
  * path).
  *
  * Exact incremental dedup of an arriving shard against an existing corpus
  * is an anti-join — at 100 TB that shuffles the corpus's key column every
  * time a shard lands. The membership question ("did we already ingest
  * this text?") doesn't need the join for MOST rows: a Bloom filter over
  * the corpus keys answers "definitely new" with zero false negatives, so
  * only the `might_contain` hits (true duplicates + the εn false
  * positives) ever reach the exact join. The sketch is Spark's own
  * runtime-filter aggregate (registered by [[GraftExtensions.register]]): built
  * with map-side partial merges in one corpus pass, OR-merge associative
  * and commutative, so the artifact is also incrementally maintainable —
  * OR in each new shard's sketch instead of rebuilding (no deletes, which
  * dedup never needs).
  *
  * How the sketch reaches the probe side — and why NOT as a literal: at
  * the advertised 100 TB sizing the serialized sketch is ~1.2 GiB (1e9
  * keys at 1% fp). Embedding that with `lit()` bakes a GiB-scale binary
  * into the serialized plan of EVERY stage that probes it — driver-OOM
  * territory, and re-shipped per stage. Instead the collected bytes are
  * deserialized once and shipped as a `SparkContext.broadcast` of the
  * [[BloomFilter]] itself: one torrent transfer per executor, cached by
  * the BlockManager, shared by every probing stage. The probe is a
  * one-line UDF over `xxhash64(key)` reading the broadcast — a
  * registry-injected Catalyst expression cannot close over a broadcast
  * handle, and Spark's own `InjectRuntimeFilter` scalar-subquery route is
  * not constructible from the public DataFrame API, so the UDF is the
  * supported way to keep the probe map-side. Hashing stays Spark-native
  * (`xxhash64` evaluates in codegen; the UDF sees only the BIGINT hash),
  * and the semantics are bit-identical to `BloomFilterMightContain` — both
  * call `mightContainLong` on the same sketch bits.
  */
object BloomDedup {

  /** Sketch parameters. Defaults size for fixture scale; at 100 TB set
    * `estItems` to the corpus key count and bits ~ 10× that for ~1% fp. */
  final case class Params(estItems: Long = 4000000L, numBits: Long = 33554432L)

  /** One corpus pass → the serialized Bloom sketch of `xxhash64(keyCol)`.
    * The single collected value is config-bounded (numBits/8 bytes).
    * Returns the serialized artifact (the storable/OR-mergeable form);
    * NULL means the corpus was empty — [[broadcastSketch]] maps that to
    * an empty filter, so probes answer false (nothing is contained). */
  def buildSketch(corpus: DataFrame, keyCol: Column, p: Params = Params()): Array[Byte] = {
    GraftExtensions.register(corpus.sparkSession)
    corpus
      .agg(
        call_function(
          "graft_bloom_agg", xxhash64(keyCol), lit(p.estItems), lit(p.numBits)).as("bf"))
      .head()
      .getAs[Array[Byte]](0)
  }

  /** Deserialize the sketch once on the driver and broadcast the filter.
    * A NULL sketch (empty corpus — `BloomFilterAggregate` evals to NULL
    * on zero rows) becomes a minimal all-zero filter: every probe is
    * false, so the incremental-dedup bootstrap case ("first shard ever")
    * passes the whole shard through as definitely new. */
  def broadcastSketch(spark: SparkSession, sketch: Array[Byte]): Broadcast[BloomFilter] = {
    val filter =
      if (sketch == null) BloomFilter.create(1, 64)
      else BloomFilter.readFrom(new ByteArrayInputStream(sketch))
    spark.sparkContext.broadcast(filter)
  }

  /** Probe column: true iff `keyCol` MIGHT be in the sketch (no false
    * negatives; false positives at the sketch's ε). The broadcast filter
    * is fetched once per executor; the probe itself is a narrow map-side
    * predicate — no shuffle, no plan-embedded sketch bytes. */
  def mightContain(bf: Broadcast[BloomFilter], keyCol: Column): Column = {
    val probe = udf((h: Long) => bf.value.mightContainLong(h))
      .withName("graft_might_contain_bc")
    probe(xxhash64(keyCol))
  }

  /** Convenience: build + broadcast in one call. */
  def buildBroadcast(corpus: DataFrame, keyCol: Column, p: Params = Params()): Broadcast[BloomFilter] =
    broadcastSketch(corpus.sparkSession, buildSketch(corpus, keyCol, p))

  /** The production op: shard rows NOT already in the corpus, computed as
    * bloom-definite-new ∪ (bloom-candidates ANTI-JOIN corpus) — the exact
    * join runs only over the candidate slice, and the corpus side of it is
    * semi-join-reduced with the same probe before shuffling. Result is
    * exactly the plain anti-join's (law-tested in BloomDedupSpec).
    *
    * The shard is scanned ONCE: the probe flag is computed and the flagged
    * shard local-checkpointed, then the definite-new / candidate slices
    * are cheap re-reads of the materialized blocks (shards are the
    * arriving increment — bounded, unlike the corpus, which is only ever
    * touched by the two sketch passes and the reduced join). */
  def newRows(
      corpus: DataFrame,
      shard: DataFrame,
      corpusKey: Column,
      shardKey: Column,
      p: Params = Params()): DataFrame = {
    val bf = buildBroadcast(corpus, corpusKey, p)
    val flagged = shard
      .withColumn("__graft_maybe", mightContain(bf, shardKey))
      .localCheckpoint()
    val definiteNew = flagged.filter(!col("__graft_maybe")).drop("__graft_maybe")
    val candidates  = flagged.filter(col("__graft_maybe")).drop("__graft_maybe")
    // Reduce the corpus side of the exact join with a SECOND, shard-sized
    // sketch over the candidate keys: the corpus shuffles only rows whose
    // key might occur in this shard (runtime-filter semi-join reduction —
    // at 100 TB this is the difference between shuffling the corpus's key
    // column and shuffling ~|shard| corpus rows).
    val candBf = buildBroadcast(candidates, shardKey, p)
    val corpusHits = corpus
      .select(corpusKey.as("__k"))
      .filter(mightContain(candBf, col("__k")))
    val survivors = candidates.join(corpusHits, shardKey === col("__k"), "left_anti")
    definiteNew.unionByName(survivors)
  }

  /** Audit frame for the registered query: one row of counts telling the
    * whole story — shard size, how much the sketch short-circuited, true
    * duplicates, and the measured false-positive rate. Deterministic
    * (bit-OR sketch, fixed xxhash64 seed) but not SQL-expressible →
    * rows-only with laws in BloomDedupSpec. */
  def auditStats(
      corpus: DataFrame,
      shard: DataFrame,
      corpusKey: Column,
      shardKey: Column,
      p: Params = Params()): DataFrame = {
    val bf = buildBroadcast(corpus, corpusKey, p)
    val corpusKeys = corpus.select(corpusKey.as("__k")).distinct()
    val flagged = shard
      .select(shardKey.as("__key"), mightContain(bf, shardKey).as("__maybe"))
      .join(corpusKeys, col("__key") === col("__k"), "left")
      .select(col("__maybe"), col("__k").isNotNull.as("__dup"))
    flagged.agg(
      count(lit(1)).as("shard_total"),
      sum(when(!col("__maybe"), 1L).otherwise(0L)).as("definite_new"),
      sum(when(col("__maybe"), 1L).otherwise(0L)).as("candidates"),
      sum(when(col("__dup"), 1L).otherwise(0L)).as("exact_dups"),
      sum(when(col("__maybe") && !col("__dup"), 1L).otherwise(0L)).as("false_positives"),
      round(
        sum(when(col("__maybe") && !col("__dup"), 1L).otherwise(0L)).cast("double")
          / sum(when(!col("__dup"), 1L).otherwise(0L)).cast("double"),
        6).as("fp_rate"))
  }
}
