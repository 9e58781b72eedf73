package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{MinHashSketch, MinHashSketchAggregator, TextOps, VectorAgg, VectorOps}
import graft.multimodal.{Containers, Multimodal}
import graft.operators.{Bm25, Bpe, ChatPrep, Dedup, EditDistanceJoin, KCore, LabelProp, LmScore, Mixture, Mmr, Outliers, PageRank, Pca, Procrustes, ProductQuantizer, Rrf, SimilarityJoin, SnapshotDiff, Triangles, Vocab}
import graft.tables.Tables

/** LLM-data-pipeline queries (SURVEY.md §2.D D1–D9) over `documents` and
  * `embeddings`: dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
  * embedding similarity + search (brute-force and IVF), text analysis
  * (tokenize, quality, language-ID, fingerprint, TF-IDF, slice stats), and
  * the multimodal binary-column surface.
  *
  * Queries whose mechanics hinge on xxhash64 (MinHash, SimHash, IVF probe
  * order) have no DuckDB twin — the driver records rows-only checks and
  * ScalaTest covers their laws (Jaccard-estimate ε, recall floors).
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame

  private def toks(c: Column)            = TextOps.tokens(c)

  /** r21 (guide §2.5): the documents fixture is ONE parquet row group, so
    * its scan is one partition and every per-doc expression battery
    * (regex QC, token folds, explodes) serialized on a single core
    * (profiled taskSec ≈ wall across the d5/d6 tier). Adaptive keyed
    * rebalance: no-op on well-split inputs, pure row movement — result
    * sets are unchanged (the oracle hashes pin every swapped query). */
  private def docsCpu(s: SparkSession, sf: String) =
    Tables.rebalanceForCpuBy(Tables.documents(s, sf), col("doc_id"))

  // One IVF index build per (JVM, dataset): the offline half of the D4
  // serving pair. Built under java.io.tmpdir; the probe query reads only
  // its nprobe partitions. Synchronized: Verify/Bench run queries
  // sequentially, so this is belt-and-braces for parallel test suites.
  private val ivfIndexes = scala.collection.concurrent.TrieMap.empty[String, String]

  // r22: per-key build lock — a builder that READS another builder's
  // artifact (the int8/IVFPQ indexes read the float index's _centroids;
  // the incremental losers read the signature store) may now run on a
  // concurrent prebuild thread, and TrieMap.getOrElseUpdate alone would
  // let two threads EVALUATE the same build (two writers overwriting one
  // path mid-job). Double-checked per-key monitor: the fast path is a
  // lock-free memo read; a miss serializes exactly the threads that need
  // that key. The builder DAG is acyclic, so nested builds cannot
  // deadlock.
  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def builtOnce(key: String, build: => String): String =
    ivfIndexes.get(key).getOrElse {
      buildLocks.computeIfAbsent(key, _ => new Object).synchronized {
        ivfIndexes.getOrElseUpdate(key, build)
      }
    }

  /** The offline builds as (name, estimated seconds, thunk) units for the
    * concurrent artifact phase (guide §2.6): a serving deployment builds
    * these as separate pipelines, so they run as independent pool units
    * instead of one long sequential chain. Estimates are the r22 sf0.1
    * measurements — only their RANKING matters (longest-first scheduling
    * bounds the phase's makespan under a fixed pool). Dependency edges
    * are safe in any schedule: a builder that needs another's artifact
    * (the int8/IVFPQ indexes call [[ivfIndexFor]]; the incremental
    * losers call [[sigStoreFor]]) blocks on that key's build lock and
    * then reads the memoized path — contents are identical to the
    * sequential build (each build is the same job writing the same
    * path; the oracle board re-verified green on a parallel build). */
  private[queries] def prebuildUnits(
      s: SparkSession, sf: String): Seq[(String, Double, () => Unit)] = Seq[(String, Double, () => Unit)](
    ("opq",        50.0, () => { opqArtifactsFor(s, sf); () }),
    ("ivf-float",  30.0, () => { ivfIndexFor(s, sf); () }),
    ("sig+incr",   35.0, () => { sigStoreFor(s, sf); d0IncrLosersFor(s, sf); () }),
    ("pq-flat",    30.0, () => { pqArtifactsFor(s, sf); () }),
    ("cc-clusters", 25.0, () => { clustersArtifactFor(s, sf); () }),
    ("edges20",    11.0, () => { neardupEdgesFor(s, sf, threshold = 0.2); () }),
    ("d0-losers",   9.0, () => { d0LosersFor(s, sf); () }),
    ("ivf-int8",    8.0, () => { ivfIndexForQuantized(s, sf); () }),
    ("ivf-pq",      8.0, () => { ivfPqIndexFor(s, sf); () }),
    ("d0-full",     7.0, () => { d0FullLosersFor(s, sf); () }),
    ("bpe-bytes",   5.0, () => { byteMergesFor(s, sf); () }),
    ("procrustes",  3.0, () => { procrustesModelFor(s, sf); () }),
    ("lsh-index",   3.0, () => { lshIndexFor(s, sf); () }),
    ("fuzzy-dec",   2.0, () => { fuzzyDecontamBucketsFor(s, sf); () }),
    ("mh-buckets",  1.2, () => { neardupBucketsFor(s, sf, oph = false); () }),
    ("oph-buckets", 1.0, () => { neardupBucketsFor(s, sf, oph = true); () }),
    ("bloom",       0.7, () => { bloomVerdictsFor(s, sf); () }),
    ("sem-lsh",     0.7, () => { semLshBucketsFor(s, sf); () }),
    ("source-sigs", 0.6, () => { sourceSigsFor(s, sf); () }),
    ("simhash",     0.5, () => { simhashFor(s, sf); () })
  )

  /** Materialized multi-table LSH hash tables (id, t, key) — the offline
    * half of the LSH serving pair ([[graft.operators.SimilarityJoin
    * .buildLshIndex]]); `d4_topk_lsh` probes them. Same build-once
    * contract as the IVF indexes, same params as the old inline query
    * (16 tables × 4 bits over the 64-dim fixture). */
  private def lshIndexFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#lsh", {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_lsh_${sanitizedKey(sf)}"
        SimilarityJoin.buildLshIndex(
          Tables.embeddings(s, sf), col("vec_id"), col("embedding"), dim = 64, path,
          tables = 16, bitsPerTable = 4)
        path
      }
    )

  /** Near-dup similarity EDGES (exact shingle-Jaccard pairs at τ=0.3),
    * materialized once per session — graph CONSTRUCTION is the offline
    * build; the graph-analytics queries (triangles, degree histogram,
    * k-core, label propagation) measure analytics over the stored edge
    * list, which is how a production graph pipeline actually runs.
    * `d2_ngram_jaccard` and the candidate-generation queries still
    * measure pair generation itself. */
  private def neardupEdgesFor(s: SparkSession, sf: String, threshold: Double = 0.3): String = {
    val tag = (threshold * 100).round
    builtOnce(
      s"$sf#neardupedges$tag", {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_edges${tag}_${sanitizedKey(sf)}"
        Dedup
          .ngramJaccardPairs(Tables.documents(s, sf), col("doc_id"), col("text"),
            shingleSize = 3, threshold = threshold)
          .select(col("doc_a"), col("doc_b"))
          .write.mode("overwrite").parquet(path)
        path
      }
    )
  }

  /** Near-dup cluster assignment (shingle-Jaccard edges → connected
    * components), materialized once per session — the clustering is an
    * OFFLINE artifact exactly like the IVF index: `d2_neardup_clusters`
    * measures the clustering itself; the REPORTS over it
    * (`d2_dup_histogram`, `d2_cluster_rep`) measure what a curation
    * dashboard pays per refresh — a scan of the assignment — not a
    * re-clustering per panel. */
  private def clustersArtifactFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#neardupcc", {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_cc_${sanitizedKey(sf)}"
        Dedup
          .connectedComponents(
            s.read.parquet(neardupEdgesFor(s, sf)))
          .select(col("node").as("doc_id"), col("cluster"))
          .write.mode("overwrite").parquet(path)
        path
      }
    )

  /** Flat-PQ serving artifacts (codebooks + codes), materialized once per
    * session — codebook training is an OFFLINE build exactly like the IVF
    * index (3 Lloyd passes over the corpus), so `d4_topk_pq` measures what
    * production pays per query: the codes-only ADC scan + shortlist
    * re-rank, not the build. Directory layout mirrors the IVFPQ index:
    * codes rows + `_codebooks` beside them. */
  private def pqArtifactsFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#pqflat", {
        val p    = ProductQuantizer.PqParams()
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_pqflat_${sanitizedKey(sf)}"
        val e    = Tables.embeddings(s, sf)
        val cb   = ProductQuantizer.trainCodebooks(e, col("vec_id"), col("embedding"), p)
        // Codes first: overwriting `path` truncates the whole directory,
        // so the `_codebooks` sidecar must be written after (same order
        // discipline as buildIvfIndex's `_centroids`).
        ProductQuantizer
          .encode(e, col("vec_id"), col("embedding"), cb, p)
          .write.mode("overwrite").parquet(path)
        cb.write.mode("overwrite").parquet(s"$path/_codebooks")
        path
      }
    )

  /** OPQ-style serving artifacts: PQ trained in the PCA-ROTATED space
    * (Ge et al., "Optimized Product Quantization", CVPR 2013 — the
    * PCA-initialized variant): the energy-compacting rotation decorrelates
    * subspaces before they quantize independently, which is the entire
    * premise PQ's independence assumption leans on. Artifacts: rotated
    * codes + `_codebooks` + the `_model` rotation itself (queries must
    * rotate the same way). Built once per session like every index here. */
  private def opqArtifactsFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#opq", {
        val p    = ProductQuantizer.PqParams()
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_opq_${sanitizedKey(sf)}"
        val e    = Tables.embeddings(s, sf)
        val model = Pca.fit(e, col("vec_id"), col("embedding"), dim = 64)
        val rot   = Pca.project(e, col("vec_id"), col("embedding"), model, k = 64, whiten = false)
        val cb    = ProductQuantizer.trainCodebooks(rot, col("id"), col("proj"), p)
        ProductQuantizer
          .encode(rot, col("id"), col("proj"), cb, p)
          .write.mode("overwrite").parquet(path)
        cb.write.mode("overwrite").parquet(s"$path/_codebooks")
        model.write.mode("overwrite").parquet(s"$path/_model")
        path
      }
    )

  /** The PQ-compressed member of the index family — same materialized
    * coarse centroids as [[ivfIndexFor]] (identical probe lists, so recall
    * laws transfer), rows stored as 16 PQ codes instead of vectors. */
  private def ivfPqIndexFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#pq", {
        val centroids = s.read.parquet(s"${ivfIndexFor(s, sf)}/_centroids")
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_${sanitizedKey(sf)}_pq"
        ProductQuantizer.buildIvfPqIndex(
          Tables.embeddings(s, sf), col("vec_id"), col("embedding"), centroids, path,
          ProductQuantizer.PqParams())
        path
      }
    )

  // MinHash params shared by the d0 batch DAG, the signature store build,
  // and the incremental query — store and probe MUST agree (band keys are
  // derived from the signatures on both sides).
  private val corpusPrepParams = Dedup.MinHashParams(jaccardThreshold = 0.5)

  /** Materialized dedup signature store over the CORPUS slice
    * (doc_id % 4 != 3) — the offline half of the incremental dedup pair;
    * `d0_corpus_prep_incr` dedups the remaining quarter against it. Same
    * build-once contract as the IVF indexes. */
  private def sigStoreFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#sigstore", {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_sigstore_${sanitizedKey(sf)}"
        graft.pipelines.CorpusPrep
          .signatures(
            Tables.documents(s, sf).filter(col("doc_id") % 4 =!= 3),
            col("doc_id"), col("text"), corpusPrepParams)
          .write.mode("overwrite").parquet(path)
        path
      }
    )

  /** Materialized near-dup LOSER ids of the d0 batch DAG — the xxhash-
    * determined half of `d0_corpus_prep` (MinHash/LSH banding + connected
    * components over the exact-dedup output), captured once per session so
    * the DuckDB oracle can replay every DETERMINISTIC stage (exact dedup,
    * gates, enrichment) around it and hash-verify the composed pipeline
    * end to end — the same artifact contract as the d4 indexes. Replay ≡
    * pipeline law in CorpusPrepSpec. */
  private def d0LosersFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#d0losers", {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_d0losers_${sanitizedKey(sf)}"
        graft.pipelines.CorpusPrep
          .nearDupLoserIds(
            Dedup.exact(Tables.documents(s, sf), col("text"), col("doc_id")).drop("content_hash"),
            col("doc_id"), col("text"), corpusPrepParams)
          .write.mode("overwrite").parquet(path)
        path
      }
    )

  /** [[d0LosersFor]] over `d0_corpus_prep_full`'s train slice
    * (doc_id % 10 != 0 — the eval decile is held out BEFORE dedup, so the
    * loser set differs from the whole-corpus one). */
  private def d0FullLosersFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#d0fulllosers", {
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_d0fulllosers_${sanitizedKey(sf)}"
        graft.pipelines.CorpusPrep
          .nearDupLoserIds(
            Dedup
              .exact(
                Tables.documents(s, sf).filter(col("doc_id") % 10 =!= 0),
                col("text"), col("doc_id"))
              .drop("content_hash"),
            col("doc_id"), col("text"), corpusPrepParams)
          .write.mode("overwrite").parquet(path)
        path
      }
    )

  /** The incremental DAG's combined loser ids (cross-store sketch losers +
    * within-shard cluster losers) — everything `d0_corpus_prep_incr`'s
    * oracle cannot rebuild from sha-256 set algebra over the documents
    * table and the signature store's content hashes. */
  private def d0IncrLosersFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#d0incrlosers", {
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_d0incrlosers_${sanitizedKey(sf)}"
        graft.pipelines.CorpusPrep
          .incrementalNearDupLoserIds(
            Tables.documents(s, sf).filter(col("doc_id") % 4 === 3),
            col("doc_id"), col("text"),
            s.read.parquet(sigStoreFor(s, sf)), corpusPrepParams)
          .write.mode("overwrite").parquet(path)
        path
      }
    )

  /** Materialized Procrustes rotation (the `_model` of the d3 alignment
    * query): the fit is DETERMINISTIC — decimal-exact cross-covariance,
    * fixed-sweep driver Jacobi, no RNG — so a second fit in the artifact
    * builder reproduces the query's W bit-for-bit, and the DuckDB oracle
    * replays the query's post-processing (|w| > 0.5 mapping panel,
    * micro-rounding) over the stored matrix with pure set algebra. Rows:
    * (from_dim, to_dim, w_raw, w) for ALL d² entries, rounding applied
    * Scala-side so both engines emit the identical doubles. */
  private def procrustesModelFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#procrustes", {
        import s.implicits._
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_procrustes_${sanitizedKey(sf)}"
        val dim = 64
        val e = Tables
          .embeddings(s, sf)
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("x"))
        val planted = transform(
          sequence(lit(0), lit(dim - 1)),
          j =>
            (when(j % 2 === 0, lit(1.0)).otherwise(lit(-1.0))) *
              element_at(col("x"), lit(dim) - j))
        val w = Procrustes.fitOrthogonal(e.withColumn("y", planted), col("x"), col("y"), dim)
        val rows = for { i <- 0 until dim; j <- 0 until dim }
          yield (i.toLong, j.toLong, w(i)(j), math.rint(w(i)(j) * 1e6) / 1e6)
        rows.toDF("from_dim", "to_dim", "w_raw", "w")
          .coalesce(1).write.mode("overwrite").parquet(path)
        path
      }
    )

  // The d2/d9 hash-family parameters, shared between each query and its
  // oracle-artifact builder (they MUST agree or the oracle replays a
  // different detector).
  private val neardupParams    = Dedup.MinHashParams(jaccardThreshold = 0.3)
  private val neardupOphParams = Dedup.MinHashParams(jaccardThreshold = 0.3, useOph = true)
  private val fuzzyDecontamParams =
    Dedup.MinHashParams(numHashes = 32, numBands = 16, jaccardThreshold = 0.5)
  private val simhashMaxHamming   = 10
  private val simhashBlockBits    = 20
  private val semLshThreshold     = 0.3
  private val semLshBits          = 2
  private val semLshTables        = 4
  private val sourceOverlapHashes = 32

  /** Materialized LSH band-bucket rows (doc_id, band, bucket — text-free,
    * post-cap) of the near-dup detectors: the xxhash-determined HALF of
    * `d2_neardup_minhash`/`_oph`, captured once per session so the DuckDB
    * oracle replays the collision join, the exact token-set Jaccard
    * verification, and the threshold — everything downstream of the hash
    * family — from the documents table. Same contract as the d4 LSH probe
    * tables. */
  private def neardupBucketsFor(s: SparkSession, sf: String, oph: Boolean): String = {
    val tag = if (oph) "d2oph" else "d2mh"
    builtOnce(
      s"$sf#$tag", {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${sanitizedKey(sf)}"
        Dedup
          .lshBuckets(Tables.documents(s, sf), col("doc_id"), col("text"),
            if (oph) neardupOphParams else neardupParams)
          .select(col("doc_id"), col("band"), col("bucket"))
          .write.mode("overwrite").parquet(path)
        path
      }
    )
  }

  /** Materialized per-doc SimHash values (id, sh, blk — the 64-bit sketch
    * and its block key): `d2_simhash`'s hash half; the oracle replays the
    * block join, XOR popcount Hamming distance, and radius filter. */
  private def simhashFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#d2sh", {
        import s.implicits._
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_d2sh_${sanitizedKey(sf)}"
        Tables.documents(s, sf)
          .select(col("doc_id").cast("long").as("id"), col("text").cast("string").as("__text"))
          .as[(Long, String)]
          .filter(_._2 != null)
          .map { case (id, text) => (id, TextOps.simHash64(TextOps.tokenHashesJvm(text))) }
          .toDF("id", "sh")
          .withColumn("blk", shiftrightunsigned(col("sh"), 64 - simhashBlockBits))
          .write.mode("overwrite").parquet(path)
        path
      }
    )

  /** Materialized cross-corpus banding of `d2_fuzzy_decontam` — the train
    * slice's band-bucket rows at the root, the eval slice's under `_eval`
    * (underscore dirs are invisible to the root read, the PQ-artifact
    * layout convention). */
  private def fuzzyDecontamBucketsFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#d2fd", {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_d2fd_${sanitizedKey(sf)}"
        val docs = Tables.documents(s, sf)
        Dedup
          .lshBuckets(docs.filter(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
            fuzzyDecontamParams)
          .select(col("doc_id"), col("band"), col("bucket"))
          .write.mode("overwrite").parquet(path)
        Dedup
          .lshBuckets(docs.filter(col("doc_id") % 10 === 0), col("doc_id"), col("text"),
            fuzzyDecontamParams)
          .select(col("doc_id"), col("band"), col("bucket"))
          .write.mode("overwrite").parquet(s"$path/_eval")
        path
      }
    )

  /** Materialized per-doc MinHash signatures (source, sig) behind
    * `d2_source_overlap`: the oracle replays the union sketch (per-slot
    * MIN across a source's docs) and the agreeing-slot estimate — the
    * whole mergeable-UDAF fold — in SQL. */
  private def sourceSigsFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#d2so", {
        import s.implicits._
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_d2so_${sanitizedKey(sf)}"
        Tables.documents(s, sf)
          .select(col("source"), col("text").cast("string").as("__text"))
          .as[(String, String)]
          .filter(_._2 != null)
          .map { case (src, t) =>
            (src, TextOps.minHashSignature64(TextOps.shingleHashesJvm(t, 3), sourceOverlapHashes))
          }
          .toDF("source", "sig")
          .write.mode("overwrite").parquet(path)
        path
      }
    )

  /** Materialized hyperplane-LSH bucket rows (id, t, key) of
    * `d9_semantic_clusters_lsh`'s slice — the oracle replays the
    * collision join, exact-cosine verification, and the connected-
    * components fixpoint. */
  private def semLshBucketsFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#d9lsh", {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_d9lsh_${sanitizedKey(sf)}"
        SimilarityJoin
          .lshBucketRows(
            Tables.embeddings(s, sf).filter(col("vec_id") % 10 === 0),
            col("vec_id"), col("embedding"), dim = 64,
            nbits = semLshBits, tables = semLshTables)
          .select(col("id"), col("t"), col("key"))
          .write.mode("overwrite").parquet(path)
        path
      }
    )

  /** Materialized bloom-probe VERDICTS (shard key, mightContain bit) of
    * `d1_bloom_audit`: the xxhash bit-array probes are the only
    * sketch-dependent input; the oracle replays the corpus join, all five
    * classification counts, and the false-positive rate from them. */
  private def bloomVerdictsFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#d1bloom", {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_d1bloom_${sanitizedKey(sf)}"
        val docs = Tables.documents(s, sf)
        val bf = graft.operators.BloomDedup
          .buildBroadcast(docs.filter(col("doc_id") % 2 === 0), col("text"))
        docs.filter(col("doc_id") % 5 === 0)
          .select(col("text").as("k"),
            graft.operators.BloomDedup.mightContain(bf, col("text")).as("maybe"))
          .write.mode("overwrite").parquet(path)
        path
      }
    )

  /** Materialized BYTE-LEVEL BPE merge table — a trained tokenizer is an
    * offline artifact exactly like an IVF index (production trains once
    * and ships the merges; every budget/packing/manifest pass then only
    * ENCODES). Consumers: `d7_bpe_budget`. The trainer-measuring rows
    * (`d5_bpe_train`, `d5_bpe_bytes`) keep training inline on purpose —
    * they benchmark the trainers themselves. */
  private def byteMergesFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#bpebytes", {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_bpebytes_${sanitizedKey(sf)}"
        Bpe.trainBytes(Tables.documents(s, sf), col("text"), 60, 5000)
          .write.mode("overwrite").parquet(path)
        path
      }
    )

  // Index paths key on the SANITIZED dataset path itself — keying on
  // abs(sf.hashCode) (rounds 3–5) could collide two sfDirs in a ~2³¹
  // space and silently serve the wrong corpus's index (VERDICT r4 §wrong-3).
  private def sanitizedKey(sf: String): String =
    sf.replaceAll("[^A-Za-z0-9._-]", "_")

  private def ivfIndexFor(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#float", {
        val e = Tables.embeddings(s, sf)
        val seeds = e
          .filter(col("vec_id") % 37 === 1)
          .orderBy("vec_id") // limit without order is partitioning-dependent
          .limit(16)
          .select(col("vec_id").as("cid"), VectorOps.asDouble(col("embedding")).as("cvec"))
        val centroids =
          SimilarityJoin.lloydRefine(e, col("vec_id"), col("embedding"), seeds, iters = 2)
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_${sanitizedKey(sf)}"
        SimilarityJoin.buildIvfIndex(e, col("vec_id"), col("embedding"), centroids, path)
        path
      }
    )

  /** The int8-quantized twin of [[ivfIndexFor]] — ~4× less scan bandwidth
    * on the probed partitions (the 100 TB page-cache lever). Reuses the
    * float index's MATERIALIZED centroids instead of re-running Lloyd:
    * both indexes must probe identical lists for the recall laws to
    * transfer, and re-deriving them from a lazy plan would recompute the
    * refinement per build. */
  private def ivfIndexForQuantized(s: SparkSession, sf: String): String =
    builtOnce(
      s"$sf#int8", {
        val centroids = s.read.parquet(s"${ivfIndexFor(s, sf)}/_centroids")
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_${sanitizedKey(sf)}_q"
        SimilarityJoin.buildIvfIndexQuantized(
          Tables.embeddings(s, sf), col("vec_id"), col("embedding"), centroids, path)
        path
      }
    )
  private val stopwordsSorted: Seq[String] =
    TextOps.stopwordProfiles.values.flatten.toSeq.distinct.sorted
  private def stopwordSqlList: String =
    stopwordsSorted.map(w => s"'$w'").mkString("[", ", ", "]")

  // DuckDB twin of TextOps.langId, generated from the same profiles: one
  // score column per language (sorted by code), argmax with the same
  // lexicographically-first tie-break (first `= mx` in sorted order wins),
  // 'und' when no profile hits.
  private def langIdSql: String = {
    val langs = TextOps.stopwordProfiles.toSeq.sortBy(_._1)
    val scoreCols = langs
      .map { case (l, ws) =>
        s"len(list_intersect(dt, ${ws.map(w => s"'$w'").mkString("[", ", ", "]")})) AS s_$l"
      }
      .mkString(",\n             ")
    val mx = langs.map(l => s"s_${l._1}").mkString("greatest(", ", ", ")")
    val cases = langs.init
      .map { case (l, _) => s"WHEN s_$l = mx THEN '$l'" }
      .mkString("\n           ")
    s"""SELECT doc_id, labeled_lang,
         CASE WHEN mx = 0 THEN 'und'
           $cases
           ELSE '${langs.last._1}' END AS pred_lang
       FROM (
         SELECT doc_id, labeled_lang, $mx AS mx, ${langs.map(l => s"s_${l._1}").mkString(", ")}
         FROM (
           SELECT doc_id, lang AS labeled_lang,
             $scoreCols
           FROM (SELECT doc_id, lang,
                   list_distinct(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS dt
                 FROM documents)))
       ORDER BY doc_id"""
  }

  val defs: Map[String, Q] = Map(
    // D1–D7 composed: the full corpus-prep DAG as ONE registered query —
    // exact dedup → MinHash/LSH near-dup clusters (min-id survivor per
    // component) → quality/language gates → enrichment
    // (pipelines/CorpusPrep.prepare). Registered so the BENCH tracks the
    // end-to-end pipeline cost round over round, not just its stages.
    // Oracle: artifact-backed — the xxhash near-dup stage's loser ids are
    // materialized per session (d0LosersFor) and DuckDB replays every
    // deterministic stage around them; pipeline laws (cluster-canonical
    // survivors, incremental ≡ batch, replay ≡ pipeline) in CorpusPrepSpec.
    "d0_corpus_prep" -> ((s, sf) => {
      d0LosersFor(s, sf) // oracle artifact (prebuilt by Bench's warm-up)
      val (out, _) = graft.pipelines.CorpusPrep.prepare(
        Tables.documents(s, sf),
        col("doc_id"),
        col("text"),
        graft.pipelines.CorpusPrep.Config(
          minhash = corpusPrepParams,
          minTokens = 5,
          maxStopwordRatio = 0.95))
      out
        .select(col("doc_id"), col("n_tok"), col("pred_lang"), col("fp"))
        .orderBy("doc_id")
    }),

    // D0 with EVERY production gate on — the complete pipeline a real
    // pretraining deployment ships: exact dedup → near-dup clusters →
    // eval-set decontamination (eval slice doc_id%10==0 as in
    // d2_ngram_decontam; k=5 — production uses k=13, but this fixture's
    // docs are ~20-90 tokens of a SHARED vocabulary, so k=3 flags 95% of
    // sf0.01 and 100% of sf0.1 (an empty corpus), while k=5 flags the
    // 1-5% with genuine 5-gram overlap — measured across both scales) →
    // rule gates → classifier gate (d5_quality_score weights) →
    // unigram-LM gate (d5_lm_score reference slice, threshold just above
    // the OOV floor).
    // d0_corpus_prep tracks the dedup backbone; THIS row tracks the cost
    // and interaction of the full gate stack round over round — each gate
    // is proven standalone (oracle-green d2/d5 rows), the composition law
    // (full ≡ ∩ of single-gate runs) is in CorpusPrepSpec. Oracle:
    // artifact-backed (d0FullLosersFor) — the full gate stack replays in
    // DuckDB around the materialized near-dup loser ids.
    "d0_corpus_prep_full" -> ((s, sf) => {
      d0FullLosersFor(s, sf) // oracle artifact (prebuilt by Bench's warm-up)
      val d    = Tables.documents(s, sf)
      val evalSlice = d.filter(col("doc_id") % 10 === 0)
      val lm = LmScore
        .trainUnigram(d.filter(col("doc_id") % 4 =!= 3), col("text"))
        .localCheckpoint() // one LM artifact; the gate re-checkpoints free
      // Driver-side single-row read (threshold config, not data): gate at
      // one micro-unit above the OOV floor — drops pure-OOV gibberish,
      // keeps anything sharing the corpus vocabulary (spec convention).
      val oovLp = lm
        .filter(col("token") === LmScore.OovToken)
        .select("lp_micro").collect().head.getLong(0)
      val (out, _) = graft.pipelines.CorpusPrep.prepare(
        d.filter(col("doc_id") % 10 =!= 0),
        col("doc_id"),
        col("text"),
        graft.pipelines.CorpusPrep.Config(
          minhash = corpusPrepParams,
          minTokens = 5,
          maxStopwordRatio = 0.95,
          classifier = Some(graft.pipelines.CorpusPrep.QualityModel(
            Array(1.2, -1.5, 0.8, 2.0), bias = -2.0, keepAbove = 0.5)),
          lmGate = Some(graft.pipelines.CorpusPrep.LmGate(lm, minMeanLpMicro = oovLp + 1)),
          decontam = Some(graft.pipelines.CorpusPrep.Decontam(
            evalSlice, col("doc_id"), col("text"), shingleSize = 5)),
          // k=5 matches the fixture's planted repeated passages (the
          // default 25 would find nothing this small); see d2_span_dedup.
          spanDedup = Some(graft.pipelines.CorpusPrep.SpanDedup(k = 5))))
      out
        .select(
          col("doc_id"), col("n_tok"), col("pred_lang"), col("fp"),
          round(col("quality"), 6).as("quality"), col("mean_lp_micro"))
        .orderBy("doc_id")
    }),

    // D0 incremental: the SERVING shape of corpus prep — a new shard
    // (doc_id % 4 == 3) deduped against the PRE-MATERIALIZED signature
    // store of the rest of the corpus (built once per session, like the
    // IVF indexes), then gated and enriched. This is the recurring cost a
    // 100 TB deployment pays per arriving shard: hash/band joins against
    // a fixed-size text-free store, never a corpus rescan — benched round
    // over round alongside the batch DAG. Oracle: artifact-backed
    // (d0IncrLosersFor + the signature store's content hashes);
    // batch ≡ incremental law in CorpusPrepSpec.
    "d0_corpus_prep_incr" -> ((s, sf) => {
      d0IncrLosersFor(s, sf) // oracle artifact (prebuilt by Bench's warm-up)
      val (out, _, _) = graft.pipelines.CorpusPrep.prepareIncremental(
        Tables.documents(s, sf).filter(col("doc_id") % 4 === 3),
        col("doc_id"),
        col("text"),
        s.read.parquet(sigStoreFor(s, sf)),
        graft.pipelines.CorpusPrep.Config(
          minhash = corpusPrepParams, minTokens = 5, maxStopwordRatio = 0.95))
      out
        .select(col("doc_id"), col("n_tok"), col("pred_lang"), col("fp"))
        .orderBy("doc_id")
    }),

    // D1: exact dedup by content hash, deterministic keep-lowest-id.
    "d1_exact_dedup" -> ((s, sf) =>
      Dedup
        .exact(Tables.documents(s, sf), col("text"), col("doc_id"))
        .select(col("doc_id"), col("content_hash"))
        .orderBy("doc_id")),

    // D1 at 100 TB: bloom-gated incremental dedup of an arriving shard
    // (doc_id%5 slice) against an existing corpus (doc_id%2 slice; the
    // %10 overlap rows are the true duplicates). Bloom misses skip the
    // join entirely; only candidates reach the exact anti-join, whose
    // corpus side is semi-join-reduced by a second candidate sketch. The
    // result is EXACTLY the anti-join's, so this one is oracle-green —
    // the oracle itself is the equivalence law.
    "d1_bloom_dedup" -> ((s, sf) => {
      val docs = Tables.documents(s, sf)
      graft.operators.BloomDedup
        .newRows(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 5 === 0),
          col("text"),
          col("text"))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // D1 audit twin: the sketch's short-circuit and false-positive story
    // as one stats row. Oracle: artifact-backed — the per-key bloom
    // verdicts are materialized ([[bloomVerdictsFor]]) and DuckDB replays
    // the classification join + every count + the fp rate; laws (no
    // false negatives, fp bound, anti-join equivalence) in BloomDedupSpec.
    "d1_bloom_audit" -> ((s, sf) => {
      bloomVerdictsFor(s, sf) // oracle artifact
      val docs = Tables.documents(s, sf)
      graft.operators.BloomDedup
        .auditStats(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 5 === 0),
          col("text"),
          col("text"))
    }),

    // D1 (re-sharding): rendezvous (highest-random-weight) shard
    // assignment before and after growing the shard count 8 → 10 — the
    // minimal-movement re-partitioning a growing corpus store needs:
    // HRW moves ONLY docs whose new argmax is an added shard (expected
    // 2/10 of the corpus), where mod-hashing would reshuffle ~8/10 of
    // every shard. Portable md5 scores (the d7_hash_sample trick) keep
    // it engine-reproducible → fully oracle-checked; the moved ⇒
    // new ∈ {8,9} invariant is law-tested. Pure narrow map: the argmax
    // runs over a 10-element in-row array, no shuffle, pushes nothing.
    "d1_rendezvous_reshard" -> ((s, sf) => {
      def argmaxShard(n: Int) = {
        val scored = transform(
          sequence(lit(0L), lit(n - 1L)),
          sh =>
            struct(
              md5(concat(col("doc_id").cast("string"), lit(":"), sh.cast("string"))).as("h"),
              sh.as("s")))
        array_max(scored).getField("s")
      }
      Tables
        .documents(s, sf)
        .select(
          col("doc_id"),
          argmaxShard(8).as("old_shard"),
          argmaxShard(10).as("new_shard"))
        .withColumn("moved", col("old_shard") =!= col("new_shard"))
        .orderBy("doc_id")
    }),

    // D2 (ops planning): the LSH parameter S-curves — candidate-pair
    // probability P = 1 − (1 − j^r)^b for every (bands, rows) split of a
    // 128-hash signature across the Jaccard grid, plus each config's
    // threshold (1/b)^(1/r). THE table a team reads before committing a
    // 100 TB dedup pass to one banding (MinHashParams' defaults trace to
    // exactly this curve); choosing wrong either floods the verifier
    // with low-similarity candidates or silently misses near-dups. Pure
    // IEEE arithmetic on a 36-row grid → fully oracle-checked.
    "d2_lsh_param_plan" -> ((s, sf) => {
      import s.implicits._
      val cfgs = Seq((64, 2), (32, 4), (16, 8), (8, 16)).toDF("bands", "rows_per_band")
      cfgs
        .select(
          col("bands"), col("rows_per_band"),
          explode(sequence(lit(1), lit(9))).as("j10"))
        .select(
          col("bands"), col("rows_per_band"),
          (col("j10").cast("double") / 10.0).as("jaccard"))
        .withColumn(
          "p_candidate",
          round(
            lit(1.0) - pow(
              lit(1.0) - pow(col("jaccard"), col("rows_per_band").cast("double")),
              col("bands").cast("double")),
            6))
        .withColumn(
          "threshold",
          round(pow(lit(1.0) / col("bands").cast("double"), lit(1.0) / col("rows_per_band").cast("double")), 6))
        .orderBy("bands", "jaccard")
    }),

    // D2: MinHash+LSH near-dup candidate pairs, Jaccard-verified.
    // Oracle: artifact-backed — the band-bucket rows are materialized
    // ([[neardupBucketsFor]]) and DuckDB replays the collision join +
    // exact token-set Jaccard verification; laws in DedupSpec.
    "d2_neardup_minhash" -> ((s, sf) => {
      neardupBucketsFor(s, sf, oph = false) // oracle artifact
      Dedup
        .nearDuplicatePairs(
          Tables.documents(s, sf),
          col("doc_id"),
          col("text"),
          neardupParams
        )
        .orderBy("doc_a", "doc_b")
    }),

    // D2 (scale path): the same near-dup pipeline with ONE-PERMUTATION
    // signatures — each shingle hashed once and routed to a bin, empty
    // bins densified (TextOps.ophSignature64), vs the k-seed family's
    // |shingles|×k mixes. The knob to flip when signature hashing
    // dominates the banding pass at corpus scale. Candidates still
    // verified by exact Jaccard; oracle artifact-backed like the k-seed
    // twin; estimator/recall laws in MinHashSketchSpec/DedupSpec.
    "d2_neardup_oph" -> ((s, sf) => {
      neardupBucketsFor(s, sf, oph = true) // oracle artifact
      Dedup
        .nearDuplicatePairs(
          Tables.documents(s, sf),
          col("doc_id"),
          col("text"),
          neardupOphParams
        )
        .orderBy("doc_a", "doc_b")
    }),

    // D2: SimHash near-dup pairs within Hamming radius. Oracle:
    // artifact-backed — per-doc sketches materialized ([[simhashFor]]),
    // DuckDB replays the block join + XOR-popcount radius filter.
    // radius 10/64: the shared-vocabulary synthetic corpus makes loose
    // radii degenerate (ham<=16 flags ~1M of 12.5M possible pairs at
    // sf0.1 — "everything is a near-dup" is not a useful detector).
    "d2_simhash" -> ((s, sf) => {
      simhashFor(s, sf) // oracle artifact
      Dedup
        .simHashPairs(Tables.documents(s, sf), col("doc_id"), col("text"),
          maxHamming = simhashMaxHamming, blockBits = simhashBlockBits)
        .orderBy("doc_a", "doc_b")
    }),

    // D2: estimated shingle-set overlap BETWEEN SOURCES — union-MinHash
    // sketch per source via the mergeable UDAF (map-side combine: the
    // shuffle carries one 32-slot array per source per partition, never
    // documents), then pairwise sketch-estimated Jaccard. The 100 TB
    // corpus-overlap question ("how much of source X is already in Y?")
    // answered in one pass + a dimension-size pair join (|sources|², not
    // |docs|²). xxhash-based → rows-only; the estimate ε-law is in
    // MinHashSketchSpec.
    "d2_source_overlap" -> ((s, sf) => {
      import s.implicits._
      val nh = 32
      sourceSigsFor(s, sf) // oracle artifact (same JVM signature loop)
      val sigs = Tables
        .documents(s, sf)
        .select(col("source"), col("text").cast("string").as("__text"))
        .as[(String, String)]
        .filter(_._2 != null)
        .map { case (src, t) =>
          (src, TextOps.minHashSignature64(TextOps.shingleHashesJvm(t, 3), nh))
        }
        .toDF("source", "sig")
      val unionSketch = udaf(
        new MinHashSketchAggregator(nh),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
      val sketches = sigs.groupBy("source").agg(unionSketch(col("sig")).as("sk"))
      val l        = sketches.select(col("source").as("src_a"), col("sk").as("sk_a"))
      val r        = sketches.select(col("source").as("src_b"), col("sk").as("sk_b"))
      l.join(r, col("src_a") < col("src_b"))
        .select(
          col("src_a"),
          col("src_b"),
          round(MinHashSketch.estimateJaccardNative(s, col("sk_a"), col("sk_b")), 9).as("est_overlap"))
        .orderBy("src_a", "src_b")
    }),

    // D2 (line granularity): boilerplate-unit removal at token granularity
    // (the fixture corpus is single-line, so the query runs the operator
    // with the space delimiter: units appearing in >= 80% of documents —
    // the shared scaffold vocabulary — are stripped, everything else is
    // rejoined in order; DedupSpec drives the multi-line/header case).
    "d2_line_boilerplate" -> ((s, sf) =>
      Dedup
        .removeBoilerplateLines(
          Tables.documents(s, sf),
          col("doc_id"),
          col("text"),
          delimiter = " ",
          minDocFrequency = 400L)
        .select(
          col("doc_id"),
          col("kept_units"),
          length(col("clean_text")).cast("long").as("kept_chars"))
        .orderBy("doc_id")),

    // D2: exact n-gram (3-token shingle) Jaccard — the oracle-checkable
    // near-dup scorer: top-50 most similar pairs on a doc_id%10 slice.
    // Candidates come from a shared-shingle equi-join (hash-partitioned,
    // never all-pairs); only zero-overlap pairs are pruned, and the slice
    // has >50 pairs with jac > 0, so the top-50 is unchanged.
    "d2_ngram_jaccard" -> ((s, sf) =>
      Dedup
        .ngramJaccardPairs(
          Tables.documents(s, sf).filter(col("doc_id") % 10 === 0),
          col("doc_id"),
          col("text"),
          shingleSize = 3,
          threshold = 0.0
        )
        .orderBy(col("jac").desc, col("doc_a"), col("doc_b"))
        .limit(50)),

    // D2: CHARACTER-level edit-distance join (PassJoin aligned segments,
    // EditDistanceJoin.scala) over the first 40 chars of each doc — the
    // typo/OCR/near-identical-title primitive the token-level family
    // can't express. Blocking is complete (pigeonhole: k edits leave one
    // of k+1 segments verbatim, shifted ≤ k) and every candidate is
    // verified with a banded levenshtein, so the result is EXACT →
    // oracle-green vs DuckDB's unblocked all-pairs levenshtein. maxDist=4.
    "d2_editdist_join" -> ((s, sf) =>
      EditDistanceJoin
        .pairs(
          Tables.documents(s, sf).select(col("doc_id"), substring(col("text"), 1, 40).as("s40")),
          col("doc_id"),
          col("s40"),
          maxDist = 4)
        .orderBy("id_a", "id_b")),

    // D2: near-dup pairs → dedup CLUSTERS via distributed connected
    // components (large-star/small-star) — the step a real dedup pipeline
    // runs after pair generation, so it can keep one canonical doc per
    // cluster. Oracle: DuckDB recursive CTE over the same edges.
    "d2_neardup_clusters" -> ((s, sf) =>
      Dedup
        .connectedComponents(
          Dedup
            .ngramJaccardPairs(Tables.documents(s, sf), col("doc_id"), col("text"),
              shingleSize = 3, threshold = 0.3)
            .select(col("doc_a"), col("doc_b")))
        .select(col("node").as("doc_id"), col("cluster"))
        .orderBy("doc_id")),

    // D9 (label spreading): seeded label propagation over the near-dup
    // graph — every 7th doc carries its `source` as a trusted label;
    // 5 synchronous majority-vote rounds spread it through the similarity
    // edges (LabelProp.scala: per-round keyed join + vote agg + rank-1
    // window, checkpointed). The practical move: a tiny curated core
    // labels everything connected to it. Iterative + vote ties →
    // rows-only; pinned-seed / single-seed-component / repartition-
    // invariance laws in LabelPropSpec.
    "d9_label_prop" -> ((s, sf) => {
      val docs  = Tables.documents(s, sf)
      val edges = s.read.parquet(neardupEdgesFor(s, sf)) // offline graph build
      val seeds = docs
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("source"))
      LabelProp
        .run(edges, seeds, rounds = 5)
        .select(col("node").as("doc_id"), col("label"))
        .orderBy("doc_id")
    }),

    // D2 (canonicalization): representative selection per near-dup
    // cluster — keep the LONGEST member (ties to the smallest id), the
    // SemDeDup end-step that turns "these docs are the same" into "this
    // is the one we train on". One rank-1 window over the
    // cluster-assignment frame (WindowGroupLimit prunes per partition).
    "d2_cluster_rep" -> ((s, sf) => {
      // reads the session's MATERIALIZED cluster assignment (the offline
      // artifact, like the IVF indexes) — the report is a serving pass
      val clusters = s.read.parquet(clustersArtifactFor(s, sf))
      val sized = clusters
        .join(Tables.documents(s, sf).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      val w = Window.partitionBy(col("cluster")).orderBy(col("n_chars").desc, col("doc_id"))
      sized
        .withColumn("rn", row_number().over(w))
        .groupBy(col("cluster"))
        .agg(
          max(when(col("rn") === 1, col("doc_id"))).as("rep_doc_id"),
          count(lit(1)).as("cluster_size"))
        .orderBy("cluster")
    }),

    // D2 (dedup economics): cluster-size histogram — per near-dup
    // cluster size: how many clusters, how many docs they hold, and how
    // many docs dedup would remove (size−1 each). The size-1 row is the
    // singleton mass (CC emits only edged nodes, so it is derived as
    // total − clustered from two scalar aggregates). This is the number
    // a 100 TB dedup run is judged by — projected bytes saved — computed
    // without materializing the deduped corpus.
    "d2_dup_histogram" -> ((s, sf) => {
      val d = Tables.documents(s, sf)
      // same materialized assignment as d2_cluster_rep: the histogram is
      // a dashboard refresh, not a re-clustering
      val clusters = s.read.parquet(clustersArtifactFor(s, sf))
      val hist = clusters
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(
          col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("docs"),
          ((col("cluster_size") - 1) * col("n_clusters")).as("removable"))
      val singles = d
        .agg(count(lit(1)).as("total"))
        .crossJoin(broadcast(clusters.agg(count(lit(1)).as("inclusters"))))
        .select(
          lit(1L).as("cluster_size"),
          (col("total") - col("inclusters")).as("n_clusters"),
          (col("total") - col("inclusters")).as("docs"),
          lit(0L).as("removable"))
      singles.unionByName(hist).orderBy("cluster_size")
    }),

    // D2 (contamination): train/eval overlap detection — the dedup question
    // a pipeline must answer BEFORE training (is the held-out slice leaked
    // into the training corpus?). Exact cross-corpus shingle Jaccard via
    // the shared-shingle join (never |train|×|eval|); threshold 0.05 sits
    // an order of magnitude above this corpus's background vocabulary
    // overlap (~0.01) and flags only genuine shared content.
    "d2_contamination" -> ((s, sf) => {
      val docs = Tables.documents(s, sf)
      Dedup
        .crossNgramJaccardPairs(
          docs.filter(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 10 === 0), col("doc_id"), col("text"),
          shingleSize = 3,
          threshold = 0.05
        )
        .orderBy("train_id", "eval_id")
    }),

    // D2 (fuzzy decontamination): MinHash/LSH near-dup detection BETWEEN
    // train and eval — catches paraphrased benchmark leakage the verbatim
    // k-gram pass can't see. Rows-only (xxhash banding); the flags ⊆
    // exact-Jaccard containment and planted-leak recall laws live in
    // DedupSpec. Threshold 0.5 = the standard near-dup operating point.
    "d2_fuzzy_decontam" -> ((s, sf) => {
      fuzzyDecontamBucketsFor(s, sf) // oracle artifact
      val docs = Tables.documents(s, sf)
      Dedup
        .fuzzyDecontamFlags(
          docs.filter(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 10 === 0), col("doc_id"), col("text"),
          fuzzyDecontamParams)
        .orderBy("train_id")
    }),

    // D2 (span granularity): exact duplicated-span removal — Lee et al.
    // 2021 "ExactSubstr" dedup as keyed shuffles (Dedup.scala Scaladoc).
    // k=5 on this fixture: the planted repeated passages flag ~36 docs
    // while background prose stays untouched (k=3 would flag ordinary
    // collocations corpus-wide). Output covers EVERY doc, so the oracle
    // checks pass-through rows too.
    "d2_span_dedup" -> ((s, sf) =>
      Dedup
        .duplicateSpanRemoval(Tables.documents(s, sf), col("doc_id"), col("text"), k = 5)
        .orderBy("doc_id")),

    // D3: cosine similarity of adjacent embedding pairs — pure Column
    // lambda expressions, no UDF.
    "d3_cosine_pairs" -> ((s, sf) => {
      val e = Tables.embeddings(s, sf)
      val a = e.select(col("vec_id").as("id_a"), VectorOps.asDouble(col("embedding")).as("v_a"))
      val b = e.select(col("vec_id").as("id_b"), VectorOps.asDouble(col("embedding")).as("v_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          round(VectorOps.cosineNative(s, col("v_a"), col("v_b")), 9).as("cos"))
        .orderBy("id_a")
    }),

    // D3 (quantized): the same adjacent-pair cosine over int8-quantized
    // vectors — 4x smaller than float32 storage, the memory/bandwidth
    // lever for a 100 TB ANN index. Quantization is pure arithmetic
    // (maxabs scale, HALF_UP round, clip), so the codes are
    // engine-identical and this path stays fully oracle-checkable; the
    // quantization-error and recall laws live in SimilaritySpec.
    "d3_cosine_quantized" -> ((s, sf) => {
      val e = Tables
        .embeddings(s, sf)
        .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        .withColumn("sc", VectorOps.maxAbsScale(col("v")))
        .withColumn(
          "vq",
          VectorOps.dequantizeI8(VectorOps.quantizeI8(col("v"), col("sc")), col("sc")))
      val a = e.select(col("vec_id").as("id_a"), col("vq").as("v_a"))
      val b = e.select(col("vec_id").as("id_b"), col("vq").as("v_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          round(VectorOps.cosineNative(s, col("v_a"), col("v_b")), 9).as("cos_q"))
        .orderBy("id_a")
    }),

    // D3 (quantization QA): per-dimension error spectrum of the int8
    // max-abs quantization — which dimensions lose the most signal in the
    // 4× compressed index (a skewed spectrum says per-SUBSPACE scales —
    // i.e. PQ — beat one per-vector scale). Squared errors quantize to
    // pico units so per-dim means are order-independent exact sums; max
    // error needs no quantization (max of identical doubles).
    "d3_quant_error" -> ((s, sf) => {
      // whole-vector aggregation (functions/VectorAgg.scala): one global
      // buffer sums pico-quantized errors (exact longs) and maxes raw
      // errors — no 64× posexplode through the agg; the d-row unpack runs
      // on the single aggregated row. Bit-identical to the exploded plan
      // (long sums associative, max exact).
      val base = Tables
        .embeddings(s, sf)
        .select(VectorOps.asDouble(col("embedding")).as("v"))
        .withColumn("sc", VectorOps.maxAbsScale(col("v")))
        .withColumn(
          "dq",
          VectorOps.dequantizeI8(VectorOps.quantizeI8(col("v"), col("sc")), col("sc")))
        .select(zip_with(col("v"), col("dq"), (x, d) => (x - d) * (x - d)).as("e2"))
      base
        .agg(
          count(lit(1)).as("n"),
          VectorAgg.sumLong(transform(col("e2"), e => round(e * 1e12).cast("long"))).as("sv"),
          VectorAgg.maxDouble(col("e2")).as("mv"))
        .select(col("n"), posexplode(arrays_zip(col("sv"), col("mv"))).as(Seq("pos", "z")))
        .select(
          col("pos").cast("long").as("pos"), col("n"),
          round(col("z.sv").cast("double") / (col("n") * lit(1e12)), 9).as("mse"),
          round(col("z.mv"), 9).as("max_e2"))
        .orderBy("pos")
    }),

    // D6 (learning-to-rank): the per-(doc, term) feature table an LTR
    // trainer consumes — raw tf, doc length, corpus df, the BM25 idf in
    // exact micro units, and the assembled BM25 term score. One corpus
    // scan builds tf; df and corpus stats ride broadcast dims (the same
    // frames d6_bm25 aggregates away — here they stay columns, because
    // features ARE the product).
    "d6_ltr_features" -> ((s, sf) => {
      val termPanel = Seq("scan", "hash", "dup")
      val tk = Tables.documents(s, sf).select(col("doc_id"), toks(col("text")).as("tk"))
      // dl values are integers, so a plain double avg is exact on any
      // partitioning (integer-valued double sums are exact below 2^53) —
      // the same parity argument Bm25.score relies on
      val stats = tk.agg(
        count(lit(1)).cast("double").as("n_docs"),
        avg(size(col("tk")).cast("double")).as("avgdl"))
      val tf = tk
        .select(col("doc_id"), size(col("tk")).cast("double").as("dl"), explode(col("tk")).as("t"))
        .filter(col("t").isin(termPanel: _*))
        .groupBy(col("doc_id"), col("dl"), col("t"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy(col("t")).agg(count(lit(1)).cast("double").as("df"))
      val idfMicro =
        round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) * 1e6).cast("long")
      tf
        .join(broadcast(df), Seq("t"))
        .crossJoin(broadcast(stats))
        .select(
          col("doc_id"), col("t"),
          col("tf").cast("long").as("tf"),
          col("dl").cast("long").as("dl"),
          idfMicro.as("idf_micro"),
          round(
            (idfMicro.cast("double") / 1e6) * col("tf") * 2.2
              / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6)
            .as("bm25_term"))
        .orderBy("doc_id", "t")
    }),

    // D3 (model migration): orthogonal Procrustes alignment between two
    // embedding spaces — the "new model" here is a planted orthogonal
    // transform (dimension reversal + alternating signs) of the old one,
    // and the fitted rotation W = M(MᵀM)^(−1/2) must RECOVER it (the
    // recovery identity is exact in algebra; see ProcrustesSpec). The
    // registered output is the recovered mapping table: the ≤64 entries
    // with |w| > 0.5 — old dim → new dim + sign. Distributed work is the
    // decimal-exact d×d cross-covariance; the polar step is driver
    // Jacobi (the Pca split). Oracle: artifact-backed — the deterministic
    // fit is materialized once per session ([[procrustesModelFor]]) and
    // DuckDB replays the mapping-panel post-processing over it;
    // orthogonality / recovery / alignment-residual / repartition-
    // invariance laws in ProcrustesSpec.
    "d3_procrustes_align" -> ((s, sf) => {
      procrustesModelFor(s, sf) // oracle artifact (prebuilt by Bench's warm-up)
      import s.implicits._
      val dim = 64
      val e = Tables
        .embeddings(s, sf)
        .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("x"))
      val planted = transform(
        sequence(lit(0), lit(dim - 1)),
        j =>
          (when(j % 2 === 0, lit(1.0)).otherwise(lit(-1.0))) *
            element_at(col("x"), lit(dim) - j))
      val w = Procrustes.fitOrthogonal(e.withColumn("y", planted), col("x"), col("y"), dim)
      val rows = for {
        i <- 0 until dim
        j <- 0 until dim
        if math.abs(w(i)(j)) > 0.5
      } yield (i.toLong, j.toLong, math.rint(w(i)(j) * 1e6) / 1e6)
      rows.toDF("from_dim", "to_dim", "w").orderBy("from_dim")
    }),

    // D4: brute-force exact top-k similarity search (query = vec_id 0).
    "d4_topk_bruteforce" -> ((s, sf) => {
      val e = Tables.embeddings(s, sf)
      val q = e.filter(col("vec_id") === 0).select(VectorOps.asDouble(col("embedding")).as("qvec"))
      SimilarityJoin.topK(e, col("vec_id"), col("embedding"), q, 10)
    }),

    // D4 scale path: IVF-bucketed ANN top-k. Approximate → rows-only;
    // recall vs brute force asserted in SimilaritySpec. Seeds are a
    // deterministic modulo sample, sharpened by two Lloyd iterations
    // (assign → mean), which is what drops the "centroids are just a
    // sample" caveat without an RNG.
    // D4 (batched): top-k per query for a PANEL of query vectors — the
    // shape a serving/eval pipeline actually runs (one scan scores all
    // queries; WindowGroupLimit ranks per query before the shuffle).
    "d4_topk_batch" -> ((s, sf) => {
      val e = Tables.embeddings(s, sf)
      val queries = e
        .filter(col("vec_id").isin(0L, 7L, 42L))
        .select(col("vec_id").as("qid"), VectorOps.asDouble(col("embedding")).as("qvec"))
      SimilarityJoin
        .topKBatch(e, col("vec_id"), col("embedding"), queries, k = 5)
        .select(col("qid"), col("vec_id"), col("cos"), col("rank"))
        .orderBy("qid", "rank")
    }),

    // D4 (filtered vector search): top-k restricted to a metadata
    // predicate (label = 3) — the production "filtered ANN" query every
    // vector store grows. PRE-filter strategy: the predicate prunes the
    // corpus before any distance math (pushes to the parquet scan), exact
    // top-k over the survivors — correct at any selectivity, and at high
    // selectivity strictly cheaper than post-filtering an unfiltered ANN
    // result (which must over-fetch to survive the filter).
    "d4_topk_filtered" -> ((s, sf) => {
      val e = Tables.embeddings(s, sf)
      val queries = e
        .filter(col("vec_id").isin(0L, 7L, 42L))
        .select(col("vec_id").as("qid"), VectorOps.asDouble(col("embedding")).as("qvec"))
      SimilarityJoin
        .topKBatch(e.filter(col("label") === 3), col("vec_id"), col("embedding"), queries, k = 5)
        .select(col("qid"), col("vec_id"), col("cos"), col("rank"))
        .orderBy("qid", "rank")
    }),

    // D4 (parallel-pair mining): margin-scored mutual-kNN pairs between
    // two label populations — the bitext-mining criterion (ratio margin
    // over forward/backward k-neighbor averages) that normalizes away hub
    // vectors a plain cosine threshold would over-select. Exact here
    // (label slices are bounded); at corpus scale the candidate lists
    // come from the IVF probes, margin math unchanged.
    "d4_margin_mining" -> ((s, sf) => {
      val e = Tables.embeddings(s, sf)
      val src = e.filter(col("label") === 0)
        .select(col("vec_id").as("sid"), VectorOps.asDouble(col("embedding")).as("svec"))
      val tgt = e.filter(col("label") === 1)
        .select(col("vec_id").as("tid"), VectorOps.asDouble(col("embedding")).as("tvec"))
      SimilarityJoin.marginMining(src, tgt, k = 4, tau = 1.0)
        .orderBy("sid", "tid")
    }),

    "d4_topk_ivf" -> ((s, sf) => {
      // Serving shape: the index (Lloyd-refined centroids + full-corpus
      // assignment) is built ONCE per session per dataset and materialized
      // partitioned by cid; the query itself is a partition-pruned probe
      // that reads ~nprobe/nlist of the corpus (VERDICT r3 #3 — ivfTopK
      // recomputed the assignment per query).
      val e = Tables.embeddings(s, sf)
      val q = e.filter(col("vec_id") === 0).select(VectorOps.asDouble(col("embedding")).as("qvec"))
      SimilarityJoin.ivfProbe(s, ivfIndexFor(s, sf), q, k = 10, nprobe = 4)
    }),

    // D4 (quantized index): the same partition-pruned probe against the
    // int8 index — ivfProbe detects the (id, q, sc, cid) layout and
    // dequantizes on read, so the scan moves ~4× fewer bytes per probed
    // partition. Approximate (quantization perturbs cosine) → rows-only;
    // the recall-vs-full-precision law is in SimilaritySpec ("quantized
    // IVF index" test).
    "d4_topk_ivf_q" -> ((s, sf) => {
      val e = Tables.embeddings(s, sf)
      val q = e.filter(col("vec_id") === 0).select(VectorOps.asDouble(col("embedding")).as("qvec"))
      SimilarityJoin.ivfProbe(s, ivfIndexForQuantized(s, sf), q, k = 10, nprobe = 4)
    }),

    // D4 (filtered ANN on the index): the scale path of d4_topk_filtered —
    // partition-pruned IVF probe, then the metadata predicate's id set
    // (label = 3, pushed to the metadata scan) semi-joins the PRUNED
    // candidate slice before the exact rerank. nprobe doubled to 8 to
    // over-fetch against the filter's ~1/10 selectivity. Approximate →
    // rows-only; the "⊆ exact filtered ranking given the probed
    // partitions" and recall laws live in SimilaritySpec.
    "d4_topk_ivf_filtered" -> ((s, sf) => {
      val e = Tables.embeddings(s, sf)
      val q = e.filter(col("vec_id") === 0).select(VectorOps.asDouble(col("embedding")).as("qvec"))
      val keep = e.filter(col("label") === 3).select(col("vec_id"))
      SimilarityJoin.ivfProbe(s, ivfIndexFor(s, sf), q, k = 10, nprobe = 8, keep = Some(keep))
    }),

    // D4 (LSH serving pair): multi-table LSH top-k against MATERIALIZED
    // hash tables (lshIndexFor — built once per session like every index
    // here); the measured query is the probe: one bucket eval on the
    // query, an equi-join against id-sized tables, candidate-sized exact
    // rerank. 16 tables × 4 bits, calibrated to the fixture's geometry
    // (true neighbors at cos ≈ 0.3, i.e. p_bit ≈ 0.6 — the hard regime;
    // near-dup corpora at cos ≥ 0.9 sustain 6-8 bits/table, see the
    // planted-dup law). Row-identical to the index-free lshTopK (law in
    // SimilaritySpec) — and because the query IS corpus vector 0, its
    // (t, key) rows in the stored tables are the probe itself, which is
    // what lets the DuckDB oracle reproduce the candidate set exactly
    // (hash-green despite the xxhash hyperplanes). Recall-vs-bruteforce
    // and score-exactness laws stay in SimilaritySpec.
    "d4_topk_lsh" -> ((s, sf) => {
      val e = Tables.embeddings(s, sf)
      val q = e.filter(col("vec_id") === 0).select(VectorOps.asDouble(col("embedding")).as("qvec"))
      SimilarityJoin.lshProbe(s, lshIndexFor(s, sf), e, col("vec_id"), col("embedding"),
        dim = 64, q, k = 10, tables = 16, bitsPerTable = 4)
    }),

    // D3 (decorrelation): PCA whitening of the embedding column — fit =
    // decimal-exact distributed mean/covariance + deterministic driver
    // Jacobi on the d×d matrix (dimension-bounded, like the nprobe list),
    // project = one broadcast + narrow map. Rows-only (no DuckDB
    // eigensolver); orthonormality/eigen-equation/rotation/whitening/
    // partitioning-independence laws in PcaSpec.
    "d3_pca_whiten" -> ((s, sf) => {
      val e     = Tables.embeddings(s, sf)
      val model = Pca.fit(e, col("vec_id"), col("embedding"), dim = 64)
      Pca
        .project(e, col("vec_id"), col("embedding"), model, k = 8, whiten = true)
        .select(
          col("id").as("vec_id"),
          // The operator returns a real array<double>; the registered query
          // space-joins the rounded values because the oracle compare
          // hashes JSON scalars (same convention as d5_encode's ids).
          concat_ws(" ", transform(col("proj"), x => format_string("%.6f", round(x, 6)))).as("proj"))
        .orderBy("vec_id")
    }),

    // D4 (compressed ANN): product quantization — m=16 ksub=64 codebooks
    // (deterministic seeds + 3 joint Lloyd steps) and the per-vector
    // 16-code encoding are OFFLINE artifacts built once per session
    // (pqArtifactsFor, like the IVF indexes); the measured query is the
    // serving cost: ADC-shortlist 50 candidates from the codes-only scan
    // (~32× fewer scanned bytes than the float64 vectors), exact-cosine
    // re-rank just those — the standard PQ + re-rank pattern. Approximate
    // candidate set (PQ cells quantize the space) → rows-only; the
    // ADC ≡ reconstructed-dot, recall, and re-rank-recall laws live in
    // ProductQuantizerSpec.
    "d4_topk_pq" -> ((s, sf) => {
      val e    = Tables.embeddings(s, sf)
      val path = pqArtifactsFor(s, sf) // codebooks+codes: session-built artifact
      val q    = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      ProductQuantizer.adcTopKRerank(
        e, col("vec_id"), col("embedding"),
        s.read.parquet(path), s.read.parquet(s"$path/_codebooks"), q,
        k = 10, shortlist = 50, ProductQuantizer.PqParams())
    }),

    // D4 (OPQ): the PQ serving pair IN THE PCA-ROTATED SPACE — the
    // rotation decorrelates subspaces before independent quantization
    // (the premise PQ leans on), then ADC-shortlists on rotated codes and
    // exact-reranks in the ORIGINAL space. Composes d3_pca_whiten's fit
    // with d4_topk_pq's serving path; artifacts (rotation + codebooks +
    // codes) are session-built offline like every index here. Rows-only;
    // recall/shape laws in ProductQuantizerSpec.
    "d4_topk_opq" -> ((s, sf) => {
      val p     = ProductQuantizer.PqParams()
      val path  = opqArtifactsFor(s, sf)
      val e     = Tables.embeddings(s, sf)
      val model = s.read.parquet(s"$path/_model")
      val qRot = Pca
        .project(e.filter(col("vec_id") === 0), col("vec_id"), col("embedding"), model, k = 64)
        .select(col("proj").as("qvec"))
      val shortlist = ProductQuantizer
        .adcTopK(s.read.parquet(path), s.read.parquet(s"$path/_codebooks"), qRot, 50, p)
        .select(col("vec_id"))
      val q = e.filter(col("vec_id") === 0).select(VectorOps.asDouble(col("embedding")).as("qv"))
      e.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        .join(broadcast(shortlist), "vec_id")
        .crossJoin(broadcast(q))
        .select(col("vec_id"), round(VectorOps.cosineNative(s, col("v"), col("qv")), 9).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),

    // D4 (IVFPQ): partition-pruned probe of the MATERIALIZED PQ index —
    // the scan reads ~nprobe/nlist of the corpus AND only 16 codes per
    // row (the two scale levers multiplied). Same coarse centroids as
    // d4_topk_ivf, so the probed lists are identical; rows-only
    // (approximate); probe ≡ inline-ADC and pruning laws in
    // ProductQuantizerSpec.
    "d4_topk_ivfpq" -> ((s, sf) => {
      val q = Tables.embeddings(s, sf)
        .filter(col("vec_id") === 0)
        .select(VectorOps.asDouble(col("embedding")).as("qvec"))
      ProductQuantizer.ivfPqProbe(s, ivfPqIndexFor(s, sf), q, k = 10, nprobe = 4)
    }),

    // D5: tokenize + quality scoring + BPE-ish token-count estimate.
    // D4 (observability): recall report — every approximate retrieval
    // path (IVF, IVFPQ, PQ+rerank, LSH) probed with the same query and
    // scored against the exact brute-force top-10, in ONE registered
    // query — the per-round ANN quality dashboard (the spec-level recall
    // laws made driver-visible, the d4_topk_ivf_q pattern). The exact set
    // is 10 rows → broadcast semi-join per method; rows-only (approx
    // methods), recall floors asserted in SimilaritySpec/PqSpec laws.
    "d4_recall_report" -> ((s, sf) => {
      val e  = Tables.embeddings(s, sf)
      val qd = e.filter(col("vec_id") === 0).select(VectorOps.asDouble(col("embedding")).as("qvec"))
      val qf = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val exactIds = SimilarityJoin.topK(e, col("vec_id"), col("embedding"), qd, 10).select("vec_id")
      def ids(df: DataFrame, m: String) =
        df.select(col("vec_id").cast("long").as("vec_id")).withColumn("method", lit(m))
      val pqPath = pqArtifactsFor(s, sf)
      val candidates = Seq(
        ids(SimilarityJoin.ivfProbe(s, ivfIndexFor(s, sf), qd, k = 10, nprobe = 4), "ivf"),
        ids(ProductQuantizer.ivfPqProbe(s, ivfPqIndexFor(s, sf), qd, k = 10, nprobe = 4), "ivfpq"),
        ids(ProductQuantizer.adcTopKRerank(
          e, col("vec_id"), col("embedding"),
          s.read.parquet(pqPath), s.read.parquet(s"$pqPath/_codebooks"), qf,
          k = 10, shortlist = 50, ProductQuantizer.PqParams()), "pq"),
        // r21: probe the MATERIALIZED hash tables (the d4_topk_lsh path)
        // instead of re-hashing the corpus inline with lshTopK — the
        // candidate set is row-identical (SimilaritySpec law) and the
        // DuckDB oracle already replays the stored tables, so only the
        // cost moves: the corpus-wide bucket eval + posexplode drops out
        // of the measured query (guide §2.4 — remove shuffles/passes the
        // data layout already paid for).
        ids(SimilarityJoin.lshProbe(s, lshIndexFor(s, sf), e, col("vec_id"), col("embedding"),
          dim = 64, qd, k = 10, tables = 16, bitsPerTable = 4), "lsh"),
        ids(defs("d4_topk_opq")(s, sf), "opq"))
      candidates
        .reduce(_.unionByName(_))
        .join(broadcast(exactIds), Seq("vec_id"), "left_semi")
        .groupBy(col("method"))
        .agg(count(lit(1)).as("hits"))
        .withColumn("k", lit(10L))
        .withColumn("recall", round(col("hits").cast("double") / col("k"), 4))
        .orderBy("method")
    }),

    // D4 (index ops): quality-drift check of a new shard against the
    // MATERIALIZED IVF centroids — per-centroid mean/min cosine of the
    // shard's would-be members, the re-run-Lloyd signal. Broadcast-join
    // assignment only; the stored index rows are never read. Rows-only
    // (centroids live in the materialized index); the in-distribution ≫
    // out-of-distribution law is in SimilaritySpec.
    "d4_ivf_drift" -> ((s, sf) => {
      val idx = ivfIndexFor(s, sf)
      SimilarityJoin
        .ivfDriftStats(
          Tables.embeddings(s, sf).filter(col("vec_id") % 4 === 3),
          col("vec_id"), col("embedding"), idx)
        .orderBy("cid")
    }),

    "d5_text_stats" -> ((s, sf) => {
      val t = toks(col("text"))
      Tables
        .documents(s, sf)
        .select(
          col("doc_id"),
          size(t).cast("long").as("n_tok"),
          size(array_distinct(t)).cast("long").as("uniq_tok"),
          TextOps.stopwordRatio(t).as("stop_ratio"),
          TextOps.meanTokenLength(t).as("mean_tok_len"),
          TextOps.approxBpeTokens(col("text")).as("bpe_est")
        )
        .orderBy("doc_id")
    }),

    // D5 (Gopher rules): the MassiveText quality-filter battery (Rae et
    // al. 2021, Gopher §A1.1) — token-count bounds, mean-word-length
    // window, alphabetic-word fraction, symbol ratio, bullet/ellipsis
    // line fractions, ≥2-of-8 stopword requirement — each signal emitted
    // per doc plus the conjunctive keep flag, so downstream can audit WHY
    // a doc dropped. One narrow projection, zero shuffles; every signal
    // rounded to a fixed grid for cross-engine hash equality.
    "d5_gopher_rules" -> ((s, sf) =>
      docsCpu(s, sf)
        .withColumn("g", TextOps.gopherSignals(col("text")))
        .select(
          col("doc_id"),
          col("g.n_tok"), col("g.mean_word_len"), col("g.alpha_word_frac"),
          col("g.symbol_ratio"), col("g.bullet_line_frac"),
          col("g.ellipsis_line_frac"), col("g.stop_hits"), col("g.keep"))
        .orderBy("doc_id")),

    // D5: language-ID heuristic (stopword-profile argmax). The synthetic
    // corpus is one shared vocabulary, so this exercises mechanics, not
    // linguistics; real-language behavior covered in TextOpsSpec.
    "d5_langid" -> ((s, sf) =>
      docsCpu(s, sf)
        .select(col("doc_id"), col("lang").as("labeled_lang"), TextOps.langId(toks(col("text"))).as("pred_lang"))
        .orderBy("doc_id")),

    // D5: rolling-hash document fingerprint.
    "d5_fingerprint" -> ((s, sf) =>
      Tables
        .documents(s, sf)
        .select(col("doc_id"), TextOps.fingerprint(toks(col("text"))).as("fp"))
        .orderBy("doc_id")),

    // D0/D1: corpus snapshot diff — classify every doc id across two
    // snapshots (added / removed / changed / unchanged by sha256). The
    // second snapshot is a deterministic simulated next crawl: drop
    // doc_id%17==3, edit doc_id%23==5, add doc_id%29==7 under new ids.
    // Each side reduces to (id, hash) before the one full-outer shuffle.
    "d0_corpus_diff" -> ((s, sf) => {
      val a = Tables.documents(s, sf)
      val kept = a
        .filter(col("doc_id") % 17 =!= 3)
        .select(
          col("doc_id"),
          when(col("doc_id") % 23 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))
            .as("text"))
      val added = a
        .filter(col("doc_id") % 29 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), concat(col("text"), lit(" new")).as("text"))
      SnapshotDiff
        .diff(a, kept.unionByName(added), col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // D0: incremental re-process — the step after the snapshot diff in a
    // versioned pipeline: ONLY added/changed docs re-enter the quality
    // gates (cost scales with the delta, not the corpus — the same
    // contract as d0_corpus_prep_incr). Same simulated next crawl as
    // d0_corpus_diff; the diff shuffles (id, hash) only, then the delta
    // ids select the new snapshot rows that get the Gopher battery.
    "d0_diff_reprocess" -> ((s, sf) => {
      val a = Tables.documents(s, sf)
      val b = a
        .filter(col("doc_id") % 17 =!= 3)
        .select(
          col("doc_id"),
          when(col("doc_id") % 23 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))
            .as("text"))
        .unionByName(
          a.filter(col("doc_id") % 29 === 7)
            .select((col("doc_id") + 1000000L).as("doc_id"), concat(col("text"), lit(" new")).as("text")))
      val delta = SnapshotDiff
        .diff(a, b, col("doc_id"), col("text"))
        .filter(col("status").isin("added", "changed"))
        .select(col("id").as("doc_id"), col("status"))
      b.join(delta, "doc_id")
        .withColumn("g", TextOps.gopherSignals(col("text")))
        .select(col("doc_id"), col("status"), col("g.n_tok"), col("g.keep"))
        .orderBy("doc_id")
    }),

    // D0: corpus report card — the per-(lang, source) audit a data team
    // ships with each corpus version: docs, exact token mass, exact-dup
    // rate (keep-lowest-id convention), Gopher keep rate. Reuses the ONE
    // gopherSignals definition, so the report can never drift from the
    // per-doc battery; the dup flag is a keyed window on content hash.
    "d0_corpus_report" -> ((s, sf) => {
      val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
      Tables
        .documents(s, sf)
        .withColumn("content_hash", sha2(col("text"), 256))
        .withColumn("is_dup", row_number().over(w) > 1)
        .withColumn("g", TextOps.gopherSignals(col("text")))
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("docs"),
          sum(col("g.n_tok")).as("total_tok"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("dup_docs"),
          sum(when(col("g.keep"), 1L).otherwise(0L)).as("keep_docs"))
        .withColumn("dup_rate", round(col("dup_docs").cast("double") / col("docs"), 6))
        .withColumn("keep_rate", round(col("keep_docs").cast("double") / col("docs"), 6))
        .orderBy("lang", "source")
    }),

    // D5: bigram-LM scoring — the order-2 extension of d5_lm_score
    // (same reference slice, same micro-unit exactness): add-one-smoothed
    // conditional p(w2|w1) with per-w1 and global fallbacks, ln computed
    // once per MODEL row. A fluency filter that catches scrambled word
    // order a unigram LM is blind to.
    "d5_lm_bigram" -> ((s, sf) => {
      val docs  = Tables.documents(s, sf)
      val model = LmScore.trainBigram(docs.filter(col("doc_id") % 10 === 0), col("text"))
      LmScore.scoreBigram(docs, col("doc_id"), col("text"), model).orderBy("doc_id")
    }),

    // D5: sketch-based heavy hitters — per-partition Misra-Gries
    // candidates + one Count-Min pass; the exact groupBy touches only
    // candidate tokens. Sketch estimates aren't SQL-expressible →
    // rows-only; the MG superset guarantee and both CMS error bounds are
    // laws in HeavyHittersSpec.
    "d5_heavy_hitters" -> ((s, sf) =>
      graft.operators.HeavyHitters.topK(Tables.documents(s, sf), col("text"))),

    // D5: tokenizer-vocab construction — top-200 word-frequency vocab
    // with ids and the cumulative coverage curve (the first pass of
    // BPE/WordPiece training). Counts exact; the only window runs over
    // the 200 surviving rows.
    "d5_vocab_build" -> ((s, sf) =>
      Vocab.build(Tables.documents(s, sf), col("text"), 200).orderBy("vocab_id")),

    // D5: corpus encoding — each doc to its token-id sequence against the
    // top-100 vocab (OOV → UNK = 0). The vocab broadcasts; per-doc arrays
    // re-assemble position-sorted, so the result is partitioning-stable.
    "d5_encode" -> ((s, sf) => {
      val docs = Tables.documents(s, sf)
      val vocab = Vocab.build(docs, col("text"), 100)
      Vocab
        .encode(docs, col("doc_id"), col("text"), vocab)
        // The operator returns a real array<long>; the registered query
        // space-joins it because the oracle compare hashes JSON scalars.
        .withColumn("ids", concat_ws(" ", transform(col("ids"), _.cast("string"))))
        .orderBy("doc_id")
    }),

    // D5: full BPE merge learning (Sennrich'16) — the iterative half that
    // d5_vocab_build's word-frequency pass feeds. One distributed word
    // count; the merge loop runs on the bounded word table. Iterative →
    // no DuckDB twin → rows-only; the classic-fixture merge sequence,
    // tie determinism, and segmentation laws are in BpeSpec.
    "d5_bpe_train" -> ((s, sf) =>
      Bpe.train(Tables.documents(s, sf), col("text"), 60, 5000).orderBy("rank")),

    // D5: BPE corpus encoding — subword-id sequences against the learned
    // merges (broadcast, shuffle-free narrow map with per-partition word
    // cache). rows-only; roundtrip + vocab-closure laws in BpeSpec.
    "d5_bpe_encode" -> ((s, sf) => {
      val docs   = Tables.documents(s, sf)
      val merges = Bpe.train(docs, col("text"), 60, 5000)
      val v      = Bpe.vocab(docs, col("text"), merges)
      Bpe.encode(docs, col("doc_id"), col("text"), merges, v).orderBy("doc_id")
    }),

    // D5: BYTE-LEVEL BPE fertility vs the char-level tier — the GPT-2
    // family tokenizer (256-byte alphabet + regex pre-tokenizer) trained
    // and applied next to the Sennrich trainer on the same corpus, rolled
    // up per language: pretokens, byte-level tokens, char-level subwords,
    // and the tokens-per-pretoken fertility both ways. Non-ASCII languages
    // pay multi-byte characters at the byte tier (higher fertility, zero
    // possible UNK) while the char tier pays OOV instead — exactly the
    // trade the D7 budget accounting needs to see. Iterative trainers →
    // rows-only; roundtrip/coverage/fertility laws in BpeSpec.
    "d5_bpe_bytes" -> ((s, sf) => {
      val docs    = Tables.documents(s, sf)
      val bMerges = Bpe.trainBytes(docs, col("text"), 60, 5000)
      val cMerges = Bpe.train(docs, col("text"), 60, 5000)
      val cVocab  = Bpe.vocab(docs, col("text"), cMerges)
      val bEnc = Bpe
        .encodeBytes(docs, col("doc_id"), col("text"), bMerges)
        .select(col("doc_id"), col("n_pretok"), col("n_tokens"))
      val cEnc = Bpe
        .encode(docs, col("doc_id"), col("text"), cMerges, cVocab)
        .select(col("doc_id"), col("n_subwords"), col("n_unk"))
      docs
        .select(col("doc_id"), col("lang"))
        .join(bEnc, "doc_id")
        .join(cEnc, "doc_id")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_pretok")).as("total_pretok"),
          sum(col("n_tokens")).as("total_byte_toks"),
          sum(col("n_subwords")).as("total_char_toks"),
          sum(col("n_unk")).as("char_unk"))
        .select(
          col("lang"), col("n_docs"), col("total_pretok"),
          col("total_byte_toks"), col("total_char_toks"), col("char_unk"),
          round(col("total_byte_toks").cast("double") /
            nullif(col("total_pretok").cast("double"), lit(0.0)), 6).as("byte_fertility"),
          round(col("total_char_toks").cast("double") /
            nullif(col("total_pretok").cast("double"), lit(0.0)), 6).as("char_fertility"))
        .orderBy("lang")
    }),

    // D7×D5: token-budget selection KEYED OFF TOKENIZER COUNTS — the
    // composition the whole D7 family exists for: budgets, packing, and
    // manifests must count what the model consumes (tokenizer tokens),
    // not whitespace words, which systematically under-count rare-word
    // text. The accounting basis is the BYTE-LEVEL tier
    // (Bpe.trainBytes/encodeBytes): its 256-byte alphabet is closed over
    // any input, so counts are UNK-free — the char tier's n_unk rows are
    // exactly the tokens a budget ledger would miscount (an OOV word
    // collapses to ONE <unk> however long it is). The char-vs-byte
    // comparison stays measured in d5_bpe_bytes. Same deterministic
    // per-source greedy fill as d7_token_budget. Iterative trainer →
    // rows-only; UNK-free and words≤tokens laws in BpeSpec, selection
    // laws in MixtureSpec.
    "d7_bpe_budget" -> ((s, sf) => {
      val docs    = Tables.documents(s, sf)
      val bMerges = s.read.parquet(byteMergesFor(s, sf)) // offline tokenizer artifact
      val withBpe = docs
        .join(
          Bpe.encodeBytes(docs, col("doc_id"), col("text"), bMerges)
            .select(col("doc_id"), col("n_tokens")),
          "doc_id")
      Mixture
        .sampleToTokenBudget(withBpe, col("doc_id"), col("source"), col("n_tokens"), tokenBudget = 600L)
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // D6: TF-IDF — top 100 (doc, term) scores.
    "d6_tfidf" -> ((s, sf) => {
      val docs = docsCpu(s, sf)
      val tf = docs
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n     = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "tok")
        .crossJoin(broadcast(n))
        .withColumn(
          "score",
          round(
            col("tf").cast("double") *
              (log((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)) + 1.0),
            6
          )
        )
        .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"))
        .orderBy(col("score").desc, col("doc_id"), col("tok"))
        .limit(100)
    }),

    // D6 (retrieval): BM25 against a fixed term query — the lexical half
    // of a RAG retrieval stack (the D4 ANN probes are the vector half).
    // Query mixes two high-df terms with the corpus's one discriminative
    // mid-df term so idf genuinely reorders matches. Top-20, ties by
    // doc_id; fully oracle-checked (ln + IEEE arithmetic, the d6_tfidf
    // precedent).
    "d6_bm25" -> ((s, sf) =>
      Bm25
        .score(Tables.documents(s, sf), col("doc_id"), col("text"),
          queryTerms = Seq("scan", "hash", "dup"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)),

    // D6 (hybrid): reciprocal-rank fusion of the lexical (BM25 top-20)
    // and vector (cosine top-20 vs vec 0) lists — the standard RAG hybrid
    // combiner (Cormack et al., SIGIR 2009). Both inputs are bounded
    // top-k lists BEFORE ranking (TakeOrderedAndProject), so the fusion
    // itself is k-sized; fully oracle-checked.
    "d6_rrf_fusion" -> ((s, sf) => {
      val docs = Tables.documents(s, sf)
      val lex = Rrf.rankList(
        Bm25
          .score(docs, col("doc_id"), col("text"), queryTerms = Seq("scan", "hash", "dup"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20),
        "doc_id", "bm25")
      val e = Tables.embeddings(s, sf)
      val q = e.filter(col("vec_id") === 0).select(VectorOps.asDouble(col("embedding")).as("qvec"))
      val vec = Rrf.rankList(
        SimilarityJoin.topK(e, col("vec_id"), col("embedding"), q, 20), "vec_id", "cos")
      Rrf
        .fuse(Seq(lex, vec))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(15)
    }),

    // D6 (retrieval eval): nDCG@{5,10,20} of the BM25 ranking, graded
    // relevance = query-term frequency (the label-free proxy). Both the
    // system list and the ideal list are TakeOrdered-bounded to 20 rows
    // BEFORE any unpartitioned window touches them, and the k-panel
    // cross join is a 3-row broadcast — the whole eval below the scoring
    // pass is k-sized. Scoring reuses Bm25.score's micro-grid doc scores
    // (oracle-proven by d6_bm25), so ordering ties resolve identically
    // cross-engine on (rounded score, doc_id).
    // D6 (eval panel, binary-relevance half): precision/recall@k of the
    // BM25 ranking — the binary companions to nDCG's graded gains and
    // MRR's first-hit rank, completing the standard retrieval dashboard.
    // Relevance = ≥2 panel-term occurrences (same signal nDCG grades);
    // exact integer hit counts, one ranked top-20 evaluated at three k.
    "d6_pr_at_k" -> ((s, sf) => {
      val docs  = Tables.documents(s, sf)
      val terms = Seq("scan", "hash", "dup")
      val rel = docs
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("relc"))
        .withColumn("is_rel", (col("relc") >= 2).cast("long"))
      val ranked = Bm25
        .score(docs, col("doc_id"), col("text"), queryTerms = terms)
        .join(rel, "doc_id")
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
        .withColumn("i",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      val kdf = s.range(1).select(explode(array(lit(5L), lit(10L), lit(20L))).as("k"))
      val tot = rel.agg(sum(col("is_rel")).as("n_rel"))
      ranked
        .crossJoin(broadcast(kdf))
        .filter(col("i") <= col("k"))
        .groupBy(col("k"))
        .agg(sum(col("is_rel")).as("hits"))
        .crossJoin(broadcast(tot))
        .select(
          col("k"), col("hits"),
          round(col("hits").cast("double") / col("k").cast("double"), 6).as("p_at_k"),
          round(col("hits").cast("double") / col("n_rel").cast("double"), 6).as("r_at_k"))
        .orderBy("k")
    }),

    "d6_ndcg" -> ((s, sf) => {
      val docs  = Tables.documents(s, sf)
      val terms = Seq("scan", "hash", "dup")
      val rel = docs
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("rel"))
      val scored = Bm25
        .score(docs, col("doc_id"), col("text"), queryTerms = terms)
        .join(rel, "doc_id") // every BM25-scored doc matches ≥1 term → inner join loses nothing
        .select(col("doc_id"), col("bm25"), col("rel"))
      def gains(df: DataFrame, by: Seq[Column]): DataFrame = df
        .orderBy(by: _*)
        .limit(20)
        .withColumn("i", row_number().over(Window.orderBy(by: _*)).cast("double"))
        .select(
          (col("rel").cast("double") / log2(col("i") + lit(1.0))).as("g"), col("i"))
      val kdf = docs.sparkSession
        .range(1)
        .select(explode(array(lit(5L), lit(10L), lit(20L))).as("k"))
      def dcgAt(g: DataFrame, out: String): DataFrame = g
        .crossJoin(broadcast(kdf))
        .filter(col("i") <= col("k"))
        .groupBy(col("k"))
        .agg(sum(col("g")).as(out))
      val sys   = dcgAt(gains(scored, Seq(col("bm25").desc, col("doc_id"))), "dcg")
      val ideal = dcgAt(gains(scored, Seq(col("rel").desc, col("doc_id"))), "idcg")
      sys
        .join(ideal, "k")
        .select(
          col("k"),
          round(col("dcg"), 6).as("dcg"),
          round(col("idcg"), 6).as("idcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
        .orderBy("k")
    }),

    // D6 (retrieval eval): mean-reciprocal-rank panel — each term of the
    // query set ranked as its own single-term BM25 query IN ONE PASS
    // (term is a grouping key, not a re-run), relevant = docs with tf ≥ 2,
    // RR = 1/first-relevant-rank. The companion metric to d6_ndcg (nDCG
    // grades the whole list; MRR grades time-to-first-hit). Per-term rank
    // windows run on the term-filtered match stream, never corpus-sized.
    "d6_mrr" -> ((s, sf) => {
      val docs  = Tables.documents(s, sf)
      val terms = Seq("scan", "hash", "dup")
      val toksDf = docs.select(col("doc_id"), toks(col("text")).as("toks"))
      val stats = toksDf.agg(
        count(lit(1)).as("n_docs"),
        avg(size(col("toks")).cast("double")).as("avgdl"))
      val tf = toksDf
        .select(col("doc_id"), size(col("toks")).cast("double").as("dl"), explode(col("toks")).as("t"))
        .filter(col("t").isin(terms: _*))
        .groupBy(col("t"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val scored = tf
        .join(broadcast(dfreq), "t")
        .crossJoin(broadcast(stats))
        .withColumn(
          "s_micro",
          round(
            log((col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
              * col("tf") * 2.2 / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
              * 1e12).cast("long"))
      val w = Window.partitionBy(col("t")).orderBy(col("s_micro").desc, col("doc_id"))
      scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("tf") >= 2)
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n_rel"), min(col("rank")).as("first_rank"))
        .withColumn("rr", round(lit(1.0) / col("first_rank").cast("double"), 6))
        .orderBy("t")
    }),

    // D6 (query expansion): pseudo-relevance feedback, RM3-lite — run the
    // seed query, take the top-10 feedback docs, pick the 5 highest
    // cnt·idf terms from them (seed terms excluded), re-run BM25 with the
    // expanded query, report the top-15. The classic recall lever of a
    // lexical retrieval stack. Everything stays keyed: the feedback-doc
    // token stream is a 10-id broadcast semi-join, candidate-term df is
    // computed only for candidate terms, and the 5 expansion terms are a
    // bounded driver list (the nprobe-centroid convention) feeding the
    // second scoring pass. Term weights land on a 1e-6 integer grid →
    // deterministic cross-engine → fully oracle-checked.
    "d6_prf_expansion" -> ((s, sf) => {
      import s.implicits._
      val docs = Tables.documents(s, sf)
      val seed = Seq("scan", "hash", "dup")
      // r21 (guide §1.2): this query used to tokenize the corpus in FOUR
      // independent subtrees (both BM25 passes, the candidate counts, the
      // candidate df) — tokenize ONCE, checkpoint the (doc_id, toks)
      // frame, and feed every consumer from it. Scores and term choices
      // are unchanged (Bm25.score ≡ Bm25.scoreTokenized on the same
      // token arrays; oracle hash pins it).
      val tokArr = docs
        .select(col("doc_id").cast("long").as("doc_id"), toks(col("text")).as("toks"))
        .localCheckpoint()
      val fb = Bm25
        .scoreTokenized(tokArr, seed)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"))
      val tokStream = tokArr.select(col("doc_id"), explode(col("toks")).as("t"))
      // r22 (guide §1.2): dual-consumed (dfc's broadcast build + the
      // expansion-term ranking) — without the boundary the candidate
      // subtree (one corpus-token pass + the whole BM25 feedback top-10)
      // executed twice. Vocab-sized checkpoint.
      val cand = tokStream
        .join(broadcast(fb), "doc_id")
        .filter(!col("t").isin(seed: _*))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val dfc = tokStream
        .join(broadcast(cand.select(col("t"))), Seq("t"), "left_semi")
        .select(col("doc_id"), col("t"))
        .distinct()
        .groupBy(col("t"))
        .agg(count(lit(1)).as("df"))
      val n = tokArr.agg(count(lit(1)).as("n_docs"))
      val expTerms = cand
        .join(dfc, "t")
        .crossJoin(broadcast(n))
        .withColumn(
          "w",
          col("cnt") * round(log(col("n_docs").cast("double") / col("df")) * 1e6).cast("long"))
        .orderBy(col("w").desc, col("t"))
        .limit(5)
        .select(col("t"))
        .as[String]
        .collect() // bounded: 5 expansion terms
        .toSeq
      Bm25
        .scoreTokenized(tokArr, seed ++ expTerms)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(15)
    }),

    // D6 (diversity): MMR re-rank of the BM25 top-20 — λ·bm25 −
    // (1−λ)·max-cosine-to-picked, λ = 0.7, select 10. Retrieval and the
    // 20×20 candidate cosines run distributed (the candidate-id list is
    // a bounded driver list, like the nprobe centroids, and prunes the
    // embedding scan); only the inherently-sequential greedy argmax runs
    // on the driver over the 20-row frame. Greedy + driver float order →
    // rows-only; the objective-optimality / λ=1-reduces-to-relevance /
    // subset laws live in MmrSpec.
    "d6_mmr" -> ((s, sf) => {
      import s.implicits._
      val docs = Tables.documents(s, sf)
      val cand = Bm25
        .score(docs, col("doc_id"), col("text"), queryTerms = Seq("scan", "hash", "dup"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id").as("id"), col("bm25").as("rel"))
      // Bounded driver list (k = 20): prunes the embedding scan to the
      // candidate rows before the pairwise-cosine join.
      val ids = cand.select(col("id")).as[Long].collect().toIndexedSeq
      val e = Tables
        .embeddings(s, sf)
        .filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      val sims = e
        .select(col("vec_id").as("id_a"), col("v").as("v_a"))
        .join(broadcast(e.select(col("vec_id").as("id_b"), col("v").as("v_b"))), col("id_a") < col("id_b"))
        .select(
          col("id_a"), col("id_b"),
          VectorOps.cosineNative(s, col("v_a"), col("v_b")).as("sim"))
      Mmr.rerank(cand, sims, lambda = 0.7, select = 10).orderBy("sel_rank")
    }),

    // D0×D7 (SFT pipeline): the end-to-end supervised-fine-tuning prep
    // DAG in one declarative plan — event log → chat turns → per-conv
    // loss-mask accounting → quality gate (≥2 turns, ≥30% trainable
    // tokens) → deterministic greedy packing into 512-token bins
    // (Mixture.packSequences, hash-ordered, partitioning-stable). The
    // pretraining twin is d0_corpus_prep; this is the instruction-tuning
    // half a complete data engine needs. Fully oracle-checked: every
    // stage is portable arithmetic (md5-free — the shuffle key is the
    // Knuth multiplicative hash d7_seq_packing already proves).
    "d0_sft_prep" -> ((s, sf) => {
      val t = ChatPrep.turns(
        Tables.events(s, sf),
        col("user_id"), col("ts"), col("event_id"),
        concat_ws(" ", col("event_type"), col("props")))
      val convs = ChatPrep
        .convStats(t)
        .filter(col("n_turns") >= 2 && col("loss_frac") >= 0.3)
      Mixture
        .packSequences(convs, col("conv_id"), lit("sft"), col("total_toks"), maxTokensPerPack = 512L)
        .select(
          col("conv_id"), col("n_turns"), col("total_toks"), col("loss_toks"),
          col("loss_frac"), col("pack_id"))
        .orderBy("conv_id")
    }),

    // D7 (MLM prep): deterministic masked-LM masking plan — select ~15%
    // of token positions per doc via the portable md5(doc:pos) gate (the
    // d7_hash_sample trick at position grain), so the SAME positions mask
    // on every engine, rerun, and partitioning — reproducible MLM batches
    // without RNG state. Narrow explode + one doc-keyed agg; every doc
    // surfaces (posexplode_outer), masked positions re-assemble sorted.
    "d7_mlm_mask" -> ((s, sf) => {
      val masked = col("tok").isNotNull &&
        substring(
          md5(concat(col("doc_id").cast("string"), lit(":"), col("pos").cast("string"))),
          1, 4) < "2666" // 0x2666/0x10000 ≈ 0.15
      Tables
        .documents(s, sf)
        .select(col("doc_id"), posexplode_outer(toks(col("text"))).as(Seq("pos", "tok")))
        .groupBy(col("doc_id"))
        .agg(
          count(col("tok")).as("n_tok"),
          sum(when(masked, 1L).otherwise(0L)).as("n_masked"),
          concat_ws(
            " ",
            transform(sort_array(collect_list(when(masked, col("pos")))), _.cast("string")))
            .as("masked_pos"))
        .select(
          col("doc_id"), col("n_tok"), col("n_masked"),
          round(
            coalesce(
              col("n_masked").cast("double") / nullif(col("n_tok").cast("double"), lit(0.0)),
              lit(0.0)),
            6).as("mask_rate"),
          col("masked_pos"))
        .orderBy("doc_id")
    }),

    // D5 (readability): Flesch reading-ease with a deterministic
    // vowel-group syllable estimate — the lightweight audience-level
    // signal quality pipelines report next to the Gopher battery. Pure
    // per-row regexp arithmetic (codegen), no shuffle beyond the sort.
    "d5_readability" -> ((s, sf) => {
      val words = size(toks(col("text"))).cast("long")
      val sents = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("long")
      val syl   = greatest(regexp_count(lower(col("text")), lit("[aeiouy]+")), lit(1)).cast("long")
      val flesch = when(
        col("n_words") > 0,
        round(
          lit(206.835)
            - lit(1.015) * col("n_words").cast("double") / col("n_sents").cast("double")
            - lit(84.6) * col("n_syl").cast("double") / col("n_words").cast("double"),
          6)).otherwise(lit(0.0))
      Tables
        .documents(s, sf)
        .select(col("doc_id"), words.as("n_words"), sents.as("n_sents"), syl.as("n_syl"))
        .withColumn("flesch", flesch)
        .withColumn(
          "band",
          when(col("flesch") >= 60, lit("easy"))
            .when(col("flesch") >= 30, lit("medium"))
            .otherwise(lit("hard")))
        .orderBy("doc_id")
    }),

    // D7: per-(lang, source) corpus slice statistics.
    "d7_slice_stats" -> ((s, sf) => {
      val t = toks(col("text"))
      Tables
        .documents(s, sf)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("docs"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars").cast(DecimalType(18, 4))).cast("double") / count(lit(1))).as("avg_chars"),
          sum(size(t).cast("long")).as("total_toks"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars")
        )
        .orderBy("lang", "source")
    }),

    // D7 (mixture): deterministic token-budget sampling per source — the
    // training-mix op ("N tokens per slice"). Survivor set is the minimal
    // budget-covering prefix in Knuth-hash order; fully oracle-checkable
    // because the shuffle key is plain modular arithmetic (Mixture doc).
    "d7_token_budget" -> ((s, sf) => {
      val docs = Tables
        .documents(s, sf)
        .withColumn("n_tok", size(toks(col("text"))).cast("long"))
      Mixture
        .sampleToTokenBudget(docs, col("doc_id"), col("source"), col("n_tok"), tokenBudget = 600L)
        .select(col("doc_id"), col("source"), col("n_tok"))
        .orderBy("doc_id")
    }),

    // D3 (slice centroids): per-bucket mean embedding, one (bucket, pos,
    // centroid) row per dimension — FP-order-independent AND engine-exact:
    // each element is truncated to 1e-9 fixed point via
    // sign(x)·floor(|x|·1e9) (pure integer result; no round-half
    // semantics, which differ between Spark's HALF_UP decimal cast and
    // DuckDB's half-even and diverged on exact-tie floats at sf0.1), the
    // BIGINT sums are exact, and one double division lands at the end.
    // The posexplode → groupBy(bucket, pos) shape is the fully distributed
    // "mean vector per slice" aggregation (same as lloydRefine's recompute
    // step), never collecting vectors.
    // D3 (hygiene): embedding outliers — z-score of each vector's cosine
    // to its label centroid, the corrupt-embedding filter that runs
    // before ANN indexing / SemDeDup. Exact micro-grid centroid + exact
    // moment sums → deterministic flags; fully oracle-checked.
    "d3_embedding_outliers" -> ((s, sf) =>
      Outliers
        .cosineOutliers(
          Tables.embeddings(s, sf), col("vec_id"), col("embedding"), col("label"))
        .withColumnRenamed("grp", "label")
        .orderBy("id")),

    "d3_slice_centroid" -> ((s, sf) => {
      // whole-vector aggregation (functions/VectorAgg.scala): quantize to
      // the 1e-9 grid, sum ARRAYS per bucket — long addition is
      // associative, so this is bit-identical to the old posexplode →
      // groupBy(bucket, pos) plan while pushing 64× fewer rows through the
      // aggregate; the 8-row result explodes AFTER the agg for the oracle
      // shape. Same micro-grid exactness, same single double divide.
      Tables
        .embeddings(s, sf)
        .select(
          (col("vec_id") % 8).as("bucket"),
          VectorAgg.quantizeNano(VectorOps.asDouble(col("embedding"))).as("q"))
        .groupBy(col("bucket"))
        .agg(VectorAgg.sumLong(col("q")).as("sv"), count(lit(1)).as("n"))
        .select(col("bucket"), posexplode(col("sv")).as(Seq("pos", "sq")), col("n"))
        .select(
          col("bucket"), col("pos").cast("long").as("pos"),
          (col("sq").cast("double") / (col("n") * lit(1e9))).as("centroid"))
        .orderBy("bucket", "pos")
    }),

    // D3: label-slice affinity matrix — pairwise cosine between label
    // centroids, the mixture-design diagnostic for "which slices are
    // near-duplicates of each other". Everything is EXACT until the last
    // op per pair: components quantize to the 1e-9 micro-grid, partial
    // sums/gram terms ride DECIMAL(38,0) (HUGEINT on the oracle), and the
    // n·1e9 scale factors cancel inside the cosine, so only the final
    // divide/sqrt touches doubles. One corpus-scale keyed shuffle (the
    // (label,pos) partial-sum agg, map-side combined); the pair join runs
    // on the labels×dim dimension table.
    "d3_label_affinity" -> ((s, sf) => {
      val xq = (signum(col("x")) * floor(abs(col("x")) * lit(1e9))).cast("long")
      val comps = Tables
        .embeddings(s, sf)
        .select(
          col("label").cast("long").as("label"),
          posexplode(VectorOps.asDouble(col("embedding"))).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(xq).cast(DecimalType(38, 0)).as("s"))
      val norms = comps.groupBy(col("label")).agg(sum(col("s") * col("s")).as("norm2"))
      val dots = comps
        .select(col("label").as("la"), col("pos"), col("s").as("sa"))
        .join(
          comps.select(col("label").as("lb"), col("pos"), col("s").as("sb")),
          Seq("pos"))
        .filter(col("la") < col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(sum(col("sa") * col("sb")).as("dot"))
      dots
        .join(broadcast(norms.select(col("label").as("la"), col("norm2").as("na"))), Seq("la"))
        .join(broadcast(norms.select(col("label").as("lb"), col("norm2").as("nb"))), Seq("lb"))
        .select(
          col("la"),
          col("lb"),
          round(
            col("dot").cast("double")
              / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
            6).as("cosine"))
        .orderBy("la", "lb")
    }),

    // D3 (Matryoshka truncation QC): cosine similarity of adjacent-id
    // pairs at PREFIX dims 8/16/32 vs the full 64 — the measurement that
    // decides how far MRL-style embeddings can be truncated before ANN
    // quality collapses (truncate → re-normalize is the standard serving
    // trick; the cosine at dim k IS the truncated-then-renormalized dot).
    // Pure narrow map over one self-join; slices are Catalyst `slice`, so
    // the scan still prunes to the one embedding column at 100 TB.
    "d3_mrl_truncation" -> ((s, sf) => {
      val e = Tables.embeddings(s, sf)
      val a = e.select(col("vec_id").as("id_a"), VectorOps.asDouble(col("embedding")).as("v_a"))
      val b = e.select(col("vec_id").as("id_b"), VectorOps.asDouble(col("embedding")).as("v_b"))
      def cosK(k: Int) =
        round(VectorOps.cosineNative(s, slice(col("v_a"), 1, k), slice(col("v_b"), 1, k)), 9)
          .as(s"cos$k")
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"), cosK(8), cosK(16), cosK(32), cosK(64))
        .orderBy("id_a")
    }),

    // D7 (deterministic sampling): portable-hash doc sampling — keep a doc
    // iff the md5 of its id falls under the rate threshold. Unlike
    // `sample()` (engine-RNG, rows-only c31), the md5 gate is REPRODUCIBLE
    // across engines, runs, partitionings, and cluster sizes — the
    // property a training pipeline needs so a 1% corpus slice is THE SAME
    // 1% on every rerun and in every downstream system. Embarrassingly
    // parallel: filter pushes to the scan, no shuffle.
    "d7_hash_sample" -> ((s, sf) =>
      Tables
        .documents(s, sf)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 4) < "2000")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")),

    // D7 (deterministic stratified sampling): fixed-size per-stratum
    // sample — rank docs inside each language by md5(id) and keep the
    // first 20. The hash order is a uniform random permutation that every
    // engine agrees on, so this is reservoir sampling without the
    // reservoir: one window function, partial-ranked per partition
    // (WindowGroupLimit pushes the <=20 cut below the shuffle).
    "d7_group_sample" -> ((s, sf) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables
        .documents(s, sf)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("doc_id"), col("rn").cast("long").as("rk"))
        .orderBy("lang", "rk")
    }),

    // D5 (entropy): per-document token-distribution Shannon entropy — low
    // entropy flags template/boilerplate/looping text that repetition
    // ratios alone miss (many distinct tokens, degenerate distribution).
    // The LM-score micro-unit convention makes it hash-exact: each
    // ln(c/n) is rounded to integer micro-nats (round(ln·1e6), the
    // LmScore.lpMicro recipe, proven cross-engine by d5_lm_score), then
    // everything is exact integer arithmetic. Every-doc contract: empty
    // docs surface with (0, 0, 0) via the left join, the d5_encode
    // convention.
    "d5_token_entropy" -> ((s, sf) => {
      val t = docsCpu(s, sf)
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      val counts = t.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      val withN = counts
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
      val h = withN
        .groupBy(col("doc_id"))
        .agg(
          (-sum(col("c") *
            round(log(col("c").cast("double") / col("n").cast("double")) * 1e6)
              .cast("long"))).as("h_micro"),
          max(col("n")).as("n_tok"))
      Tables.documents(s, sf)
        .select(col("doc_id"))
        .join(h, Seq("doc_id"), "left_outer")
        .select(
          col("doc_id"),
          coalesce(col("n_tok"), lit(0L)).as("n_tok"),
          coalesce(col("h_micro"), lit(0L)).as("h_micro"),
          round(coalesce(col("h_micro"), lit(0L)).cast("double")
            / greatest(coalesce(col("n_tok"), lit(0L)), lit(1L)).cast("double") / 1e6, 6)
            .as("h_per_tok"))
        .orderBy("doc_id")
    }),

    // D7 (distribution shift): pairwise divergence between per-language
    // token distributions — total-variation and chi-square, the log-free
    // shift measures (KL's log would hinge on libm ulp parity; TV/chi2
    // are pure rational arithmetic, so the compare is exact). One pivot
    // to a (tok × lang) matrix, then ONE aggregation computes all 10
    // pair columns (no per-pair passes), stacked to rows. Per-term values
    // go through DECIMAL(38,18) so the sums are partitioning-independent.
    // The monitor a mixture pipeline runs to detect slice drift between
    // corpus snapshots.
    "d7_lang_divergence" -> ((s, sf) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val dec18 = DecimalType(38, 18)
      val tokRows = Tables.documents(s, sf)
        .select(col("lang"), explode(toks(col("text"))).as("tok"))
      val counts = tokRows.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      val totals = counts.groupBy(col("lang")).agg(sum(col("c")).as("n"))
      val dist = counts
        .join(broadcast(totals), Seq("lang"))
        .select(col("lang"), col("tok"),
          (col("c").cast("double") / col("n").cast("double")).as("p"))
      val wide  = dist.groupBy(col("tok")).pivot("lang", langs).agg(first(col("p")))
      val pairs = for { i <- langs.indices; j <- i + 1 until langs.length }
        yield (langs(i), langs(j))
      val aggCols = pairs.flatMap { case (a, b) =>
        val pa = coalesce(col(a), lit(0.0))
        val pb = coalesce(col(b), lit(0.0))
        Seq(
          sum((abs(pa - pb) / 2.0).cast(dec18)).cast("double").as(s"tv_${a}_$b"),
          sum(when(pa + pb > 0.0, (pa - pb) * (pa - pb) / (pa + pb)).otherwise(0.0)
            .cast(dec18)).cast("double").as(s"chi_${a}_$b"))
      }
      val one = wide.agg(aggCols.head, aggCols.tail: _*)
      val stackExpr = s"stack(${pairs.length}, " + pairs
        .map { case (a, b) => s"'$a', '$b', tv_${a}_$b, chi_${a}_$b" }
        .mkString(", ") + ") AS (lang_a, lang_b, tv, chi2)"
      one
        .select(expr(stackExpr))
        .select(col("lang_a"), col("lang_b"),
          round(col("tv"), 9).as("tv"), round(col("chi2"), 9).as("chi2"))
        .orderBy("lang_a", "lang_b")
    }),

    // D9 (graph centrality): PageRank over the near-dup similarity graph
    // — link-graph centrality as a corpus quality prior (the harmonic-
    // centrality gate of public web-corpus pipelines, run on the graph
    // the dedup pass already built). Edges = verified n-gram Jaccard
    // pairs, symmetrized; isolated docs don't enter the graph. Iterative
    // (10 decimal-exact rounds, checkpointed) → rows-only; uniformity/
    // mass-conservation/determinism laws in PageRankSpec.
    "d9_pagerank" -> ((s, sf) => {
      // offline graph build (τ=0.2 — denser than the dedup graph), same
      // artifact discipline as the other D9 analytics
      val pairs = s.read.parquet(neardupEdgesFor(s, sf, threshold = 0.2))
      val edges = pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      PageRank
        .run(edges, col("doc_a"), col("doc_b"), iterations = 10)
        .select(col("v").as("doc_id"), round(col("rank"), 6).as("rank"))
        .orderBy("doc_id")
    }),

    // D7 (weighted sampling): deterministic weighted sample WITHOUT
    // replacement — Efraimidis-Spirakis A-Res keys u^(1/w) with the
    // uniform u derived from md5(doc_id) (same portable-hash trick as
    // d7_hash_sample), weight = document length. P(doc in top-100) ∝ its
    // weight, yet the sample is IDENTICAL on every engine, rerun, and
    // partitioning — how a mixture pipeline takes a quality-weighted
    // slice reproducibly. Selection = one TakeOrderedAndProject on the
    // key; no shuffle beyond top-k.
    "d7_weighted_sample" -> ((s, sf) => {
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double") + 0.5) / 4294967296.0
      val key = pow(u, lit(1.0) / col("n_chars").cast("double"))
      Tables
        .documents(s, sf)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("lang"), col("n_chars"), key.as("__key"))
        .orderBy(col("__key").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("lang"), col("n_chars"), round(col("__key"), 9).as("key"))
        .orderBy(col("key").desc, col("doc_id"))
    }),

    // D5 (charset / encoding QC): per-doc character-class profile — word,
    // space, digit, non-ASCII, U+FFFD replacement-char, and mojibake
    // ('Ã' from double-decoded UTF-8) counts. The standard corpus-ingest
    // gate that catches wrong-charset shards before they poison training
    // data. Regex counts stay in codegen; the literal-char counts use the
    // replace-length trick (portable across engines, no regex dialect
    // risk on non-ASCII classes).
    "d5_charset_qc" -> ((s, sf) => {
      def litCount(c: Column, ch: String) =
        (length(c) - length(replace(c, lit(ch), lit("")))).cast("long")
      Tables
        .documents(s, sf)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_char"),
          regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_word"),
          regexp_count(col("text"), lit(" ")).cast("long").as("n_space"),
          regexp_count(col("text"), lit("[0-9]")).cast("long").as("n_digit"),
          regexp_count(col("text"), lit("[^\\x20-\\x7e]")).cast("long").as("n_nonascii"),
          litCount(col("text"), "�").as("n_replacement"),
          litCount(col("text"), "Ã").as("n_mojibake"))
        .orderBy("doc_id")
    }),

    // D5 (repetition): Gopher-style repetition signals per document — the
    // top-bigram share and the distinct-token ratio, the standard gibberish
    // /loop detectors a quality gate thresholds on. Explode + per-doc
    // aggregation, all map-side-combining hash aggs.
    "d5_repetition" -> ((s, sf) => {
      import s.implicits._
      val t = toks(col("text"))
      // Bigrams as xxhash64 of the 2-token shingle via the JVM twin
      // (Catalyst HOF shingling is interpreted — the same profiled hot
      // loop as the d2 paths; 3.5 s → ~1 s at sf0.1). Counting is hash-
      // identity (collisions ≈ n²/2⁶⁵); shares/sums are unchanged, so the
      // oracle stays green. shingleHashesJvm keeps the whole-doc fallback
      // for <2-token docs, matching the SQL twin's CASE branch.
      val bigrams = Tables
        .documents(s, sf)
        .select(col("doc_id").cast("long").as("doc_id"), col("text").cast("string").as("__text"))
        .as[(Long, String)]
        .filter(_._2 != null)
        .map { case (id, text) => (id, TextOps.shingleHashesJvm(text, 2)) }
        .toDF("doc_id", "bgh")
        .select(col("doc_id"), explode(col("bgh")).as("bg"))
      val perDoc = bigrams
        .groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(
          (max(col("c")).cast("double") / sum(col("c")).cast("double")).as("top_bigram_share"),
          sum(col("c")).as("n_bigrams"))
      Tables
        .documents(s, sf)
        .select(
          col("doc_id"),
          (size(array_distinct(t)).cast("double") /
            nullif(size(t), lit(0)).cast("double")).as("distinct_ratio"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          round(col("distinct_ratio"), 9).as("distinct_ratio"),
          round(coalesce(col("top_bigram_share"), lit(0.0)), 9).as("top_bigram_share"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
        .orderBy("doc_id")
    }),

    // D7 (packing): sequential sequence packing — cut the per-source doc
    // stream (deterministic hash order) into ~2048-token pretraining
    // packs; output per-pack stats. Window cumsum + floor-div, no state.
    "d7_seq_packing" -> ((s, sf) => {
      val docs = Tables
        .documents(s, sf)
        .withColumn("n_tok", size(toks(col("text"))).cast("long"))
      Mixture
        .packSequences(docs, col("doc_id"), col("source"), col("n_tok"), maxTokensPerPack = 2048L)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("pack_tokens"))
        .orderBy("source", "pack_id")
    }),

    // D7 (capacity planning): packing-efficiency sweep — the same greedy
    // prefix packing evaluated at three max_len configs, reporting packs
    // and mean utilization per config: the report a team reads to pick
    // the training sequence length. Three prefix passes here (corpus
    // reduced to (id, slice, n_tok) first — the sweep never rescans
    // text); at production scale the shared-prefix variant computes the
    // running total once and derives every config from it.
    "d7_packing_sweep" -> ((s, sf) => {
      val base = Tables
        .documents(s, sf)
        .withColumn("n_tok", size(toks(col("text"))).cast("long"))
        .select(col("doc_id"), col("source"), col("n_tok"))
      Seq(128L, 256L, 512L)
        .map { m =>
          Mixture
            .packSequences(base, col("doc_id"), col("source"), col("n_tok"), m)
            .groupBy(col("source"), col("pack_id"))
            .agg(sum(col("n_tok")).as("fill"))
            .agg(count(lit(1)).as("packs"), sum(col("fill")).as("total_tok"))
            .select(
              lit(m).cast("long").as("max_len"),
              col("packs"),
              col("total_tok"),
              round(col("total_tok").cast("double") / col("packs") / lit(m.toDouble), 6)
                .as("utilization"))
        }
        .reduce(_.unionByName(_))
        .orderBy("max_len")
    }),

    // D5 (redaction): PII scrubbing — emails/phones → typed placeholder
    // tags, the pass that runs before any text reaches a tokenizer. The
    // fixture corpus contains no PII, so a deterministic subset gets
    // synthetic contact lines injected first (same inject-then-measure
    // shape as a8_corrupt_tolerance) and the oracle checks the regex
    // semantics agree across engines, match counts included.
    "d5_pii_redaction" -> ((s, sf) => {
      val raw = when(
        col("doc_id") % 5 === 0,
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call 555-01"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"))
      ).otherwise(col("text"))
      docsCpu(s, sf)
        .withColumn("raw", raw)
        .select(
          col("doc_id"),
          TextOps.redactPii(col("raw")).as("clean"),
          // cast to long: regexp_count returns INT, and the oracle's
          // count() is BIGINT — the one dtype mismatch on the board
          regexp_count(col("raw"), lit(TextOps.emailPattern)).cast("long").as("n_emails"),
          regexp_count(col("raw"), lit(TextOps.phonePattern)).cast("long").as("n_phones"))
        .orderBy("doc_id")
    }),

    // D5 (classifier gate): logistic quality model over the rule-gate
    // features — σ(bias + w·f) with the WEIGHTS SHIPPED AS A 1-ROW
    // BROADCAST DIMENSION (a retrained model is a data swap, not a code
    // change). Feature vector: saturating length, stopword ratio, mean
    // token length, distinct-token ratio. Pure Column arithmetic
    // (zip_with dot + exp), fully oracle-checkable; round(.,6) absorbs
    // cross-engine exp() ulp noise (d6_tfidf precedent for ln).
    "d5_quality_score" -> ((s, sf) => {
      import s.implicits._
      val t = toks(col("text"))
      val weights = Seq((Array(1.2, -1.5, 0.8, 2.0), -2.0)).toDF("w", "bias")
      val score = TextOps.qualityScore(col("f"), col("w"), col("bias"))
      docsCpu(s, sf)
        .withColumn("f", array(
          least(size(t).cast("double") / 100.0, lit(1.0)),
          TextOps.stopwordRatio(t),
          TextOps.meanTokenLength(t) / 10.0,
          size(array_distinct(t)).cast("double") / nullif(size(t), lit(0)).cast("double")))
        .crossJoin(broadcast(weights))
        .select(
          col("doc_id"),
          round(score, 6).as("quality"),
          when(score >= 0.5, 1L).otherwise(0L).as("keep"))
        .orderBy("doc_id")
    }),

    // D5 (calibration): Gopher-keep rate per classifier-quality bin — the
    // cross-signal view a team reads to decide whether the cheap rule
    // battery and the learned gate agree (and where they diverge). Bins
    // on the unrounded score (same doubles both engines); mean quality
    // per bin via exact 1e-6-grid sums. Narrow + one hash agg.
    "d5_quality_hist" -> ((s, sf) => {
      import s.implicits._
      val t = toks(col("text"))
      val weights = Seq((Array(1.2, -1.5, 0.8, 2.0), -2.0)).toDF("w", "bias")
      val score = TextOps.qualityScore(col("f"), col("w"), col("bias"))
      docsCpu(s, sf)
        .withColumn("f", array(
          least(size(t).cast("double") / 100.0, lit(1.0)),
          TextOps.stopwordRatio(t),
          TextOps.meanTokenLength(t) / 10.0,
          size(array_distinct(t)).cast("double") / nullif(size(t), lit(0)).cast("double")))
        .crossJoin(broadcast(weights))
        .withColumn("q", score)
        .withColumn("g", TextOps.gopherSignals(col("text")))
        .groupBy(least(floor(col("q") * 10), lit(9.0)).cast("long").as("bin"))
        .agg(
          count(lit(1)).as("docs"),
          sum(when(col("g.keep"), 1L).otherwise(0L)).as("gopher_keep_docs"),
          round(
            sum(round(col("q") * 1e6).cast("long")).cast("double") / (count(lit(1)) * 1e6),
            6).as("mean_q"))
        .withColumn(
          "gopher_keep_rate",
          round(col("gopher_keep_docs").cast("double") / col("docs"), 6))
        .orderBy("bin")
    }),

    // D0 (ops): compaction plan — per-slice byte mass → target file count
    // at a fixed file-size goal, the small-files planner a 100 TB lake
    // runs before rewriting a partition (the goal constant here is
    // 256 KiB to be meaningful at fixture scale; production uses
    // ~512 MiB — one constant, same plan).
    "d0_compaction_plan" -> ((s, sf) =>
      Tables
        .documents(s, sf)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("bytes_est"))
        .withColumn(
          "target_files",
          greatest(ceil(col("bytes_est").cast("double") / lit(262144.0)), lit(1.0)).cast("long"))
        .withColumn(
          "docs_per_file",
          ceil(col("docs").cast("double") / col("target_files")).cast("long"))
        .orderBy("lang", "source")),

    // D7 (split): deterministic stratified train/val/test assignment —
    // reproducible on any cluster/partitioning because it is pure modular
    // arithmetic on the doc id (Mixture.shuffleKey), and stratified across
    // sources because the hash is uniform within every slice. Narrow plan:
    // zero shuffles beyond the output sort.
    "d7_stratified_split" -> ((s, sf) =>
      Mixture
        .stratifiedSplit(
          Tables.documents(s, sf), col("doc_id"),
          fractions = Seq("train" -> 80, "val" -> 90), defaultLabel = "test")
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy("doc_id")),

    // D8: multimodal binary column — payload bytes + typed metadata;
    // filter on metadata, hash/length on payload.
    "d8_multimodal_meta" -> ((s, sf) =>
      Multimodal
        .attachPayload(Tables.documents(s, sf))
        .filter(col("meta.width") > 200)
        .select(
          col("doc_id"),
          col("meta.mime").as("mime"),
          length(col("payload")).cast("long").as("byte_len"),
          sha2(col("text"), 256).as("content_sha")
        )
        .orderBy("doc_id")),

    // D8 ∩ D1: exact dedup by PAYLOAD BYTES — the standard "dedupe media
    // by content hash" pass (identical images under different doc ids),
    // run on the multimodal surface: hash the binary column, keep the
    // lowest doc id per digest. Same keyed-shuffle shape as
    // d1_exact_dedup; the fixture's payload is the UTF-8 text bytes, so
    // DuckDB's sha256 over the same bytes is the oracle.
    "d8_payload_dedup" -> ((s, sf) =>
      Dedup
        .exact(Multimodal.attachPayload(Tables.documents(s, sf)), col("payload"), col("doc_id"))
        .select(
          col("doc_id"),
          col("meta.mime").as("mime"),
          length(col("payload")).cast("long").as("byte_len"),
          col("content_hash").as("payload_sha"))
        .orderBy("doc_id")),

    // D8: REAL image codec roundtrip — render a deterministic 16×16 PNG per
    // doc, then DECODE it with javax.imageio and emit decoder dimensions +
    // exact per-channel pixel sums. PNG is lossless and the pixel formula is
    // modular arithmetic, so DuckDB reproduces the expected sums from a
    // generate_series grid — the codec path itself is what the hash check
    // exercises.
    "d8_image_decode" -> ((s, sf) =>
      Multimodal
        .decodeImage(Multimodal.attachImagePayload(Tables.documents(s, sf), 16, 16))
        .filter(col("decode_ok"))
        .select(col("doc_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("doc_id")),

    // D8: REAL audio codec roundtrip — render 256-sample 16-bit PCM WAV per
    // doc, decode it with javax.sound.sampled, emit exact sample sums.
    // Same cross-engine trick as d8_image_decode: lossless codec + pixel/
    // sample formula in modular arithmetic → DuckDB reproduces the sums
    // from a generate_series grid.
    "d8_audio_decode" -> ((s, sf) =>
      Multimodal
        .decodeAudio(Multimodal.attachAudioPayload(Tables.documents(s, sf), 256, 8000))
        .filter(col("decode_ok"))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("sum_s"), col("sum_abs"))
        .orderBy("doc_id")),

    // D8: REAL video frame sampling — render a 6-frame grayscale animated
    // GIF per doc (the one frame container the JDK decodes natively),
    // seek-decode every 2nd frame via ImageReader's multi-image API, emit
    // exact per-frame gray sums. Same lossless-codec + modular-arithmetic
    // trick as d8_image_decode, extended over the frame axis: DuckDB
    // reproduces the sampled-frame sums from a 3-D generate_series grid.
    "d8_video_frames" -> ((s, sf) =>
      Multimodal
        .sampleVideoFrames(
          Multimodal.attachVideoPayload(Tables.documents(s, sf), 8, 8, 6), stride = 2)
        .filter(col("decode_ok"))
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"), col("sum_gray"))
        .orderBy("doc_id", "frame_idx")),

    // D8: container-level video metadata — parse planted MP4 box trees
    // (even ids) and EBML/WebM headers (odd ids) with pure byte
    // arithmetic (multimodal/Containers.scala): brand/DocType, movie
    // timescale, duration, track count, handler types — the catalog scan
    // that stats 100 TB of video reading only header bytes, no codec.
    // Every planted field is modular arithmetic of doc_id, so DuckDB
    // recomputes the expected table exactly; the box/varint walk itself
    // is what the hash check exercises.
    "d8_video_meta" -> ((s, sf) =>
      Containers
        .parseContainerMeta(Containers.attachContainerPayload(Tables.documents(s, sf)))
        .filter(col("decode_ok"))
        .select(col("doc_id"), col("container"), col("brand"), col("timescale"),
          col("duration_ms"), col("n_tracks"), col("handlers"))
        .orderBy("doc_id")),

    // D8: JPEG header metadata — the image side of the catalog tier:
    // dimensions/components/progressive from the SOF marker of REAL
    // javax.imageio-encoded JPEGs (the parse target is a genuine
    // encoder's marker stream, not a hand-built fixture), read in a
    // marker walk that stops before any entropy-coded data. The planted
    // dimensions are modular arithmetic of doc_id, so DuckDB recomputes
    // the exact table — the parse path is what the hash check exercises.
    "d8_jpeg_meta" -> ((s, sf) =>
      Containers
        .parseJpegMeta(Containers.attachJpegPayload(Tables.documents(s, sf)))
        .filter(col("decode_ok"))
        .select(col("doc_id"), col("width"), col("height"),
          col("n_components"), col("progressive"))
        .orderBy("doc_id")),

    // D8: audio header metadata — FLAC STREAMINFO (bit-packed 20-bit
    // rate / 3-bit channels / 5-bit bps / 36-bit total samples) and
    // MPEG-1 Layer III frame-sync walk (bitrate/rate/mode from the
    // 4-byte header, CBR duration from the frame count) — the audio twin
    // of d8_video_meta, same pure-byte pattern, header bytes only.
    "d8_audio_meta" -> ((s, sf) =>
      Containers
        .parseAudioMeta(Containers.attachAudioHeaderPayload(Tables.documents(s, sf)))
        .filter(col("decode_ok"))
        .select(col("doc_id"), col("format"), col("sample_rate"), col("channels"),
          col("bits_per_sample"), col("duration_ms"), col("bitrate_kbps"))
        .orderBy("doc_id")),

    // D8: REAL image resize — decode, bilinear-rescale 16×16 → 8×8 with
    // Graphics2D, PNG re-encode, decode again. Interpolated sums are
    // codec-kernel-specific → rows-only; dimension/determinism/brightness
    // laws are in MultimodalSpec.
    "d8_image_resize" -> ((s, sf) =>
      Multimodal
        .decodeImage(
          Multimodal.resizeImage(
            Multimodal.attachImagePayload(Tables.documents(s, sf), 16, 16), 8, 8))
        .filter(col("decode_ok"))
        .select(col("doc_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("doc_id")),

    // D9: embedding-cosine near-dup self-join — exact within label blocks
    // on a doc_id%10 slice (the LSH candidate path is ScalaTest-verified).
    "d9_simjoin_threshold" -> ((s, sf) =>
      SimilarityJoin
        .selfJoinThreshold(
          Tables.embeddings(s, sf).filter(col("vec_id") % 10 === 0),
          col("vec_id"),
          col("embedding"),
          col("label"),
          threshold = 0.15
        )
        .orderBy("id_a", "id_b")),

    // D9 composed (SemDeDup): cosine-near pairs → connected components →
    // cluster map — the embedding-space dedup pass, symmetric with
    // d2_neardup_clusters on the text side. Each vector's cluster is the
    // minimum vec_id it is transitively cosine-near (>= 0.3 within label
    // blocks); survivors are the rows with cluster = vec_id
    // (SimilarityJoin.semanticDedup applies that filter — its survivor law
    // is in SimilaritySpec). Oracle: DuckDB recursive CTE over the same
    // exact blocked pair join.
    "d9_semantic_clusters" -> ((s, sf) => {
      val pairs = SimilarityJoin
        .selfJoinThreshold(
          Tables.embeddings(s, sf), col("vec_id"), col("embedding"), col("label"),
          threshold = 0.3)
        .select(col("id_a"), col("id_b"))
      Dedup
        .connectedComponents(pairs)
        .select(col("node").as("vec_id"), col("cluster"))
        .orderBy("vec_id")
    }),

    // D9 scale path (SemDeDup at 100 TB): the same pairs → connected
    // components → min-id cluster map as d9_semantic_clusters, but with
    // candidate generation swapped from the exact label-blocked join
    // (Σ block², degenerate when labels are coarse) to random-hyperplane
    // LSH buckets (Σ bucket², tunable via nbits, label-free) — the
    // composition a label-less web corpus runs. Pairs are still
    // exact-cosine VERIFIED, so precision is exact; only recall is
    // probabilistic (approximate candidate set → rows-only; the
    // LSH-clusters-refine-exact-clusters containment law and the recall
    // floor are in SimilaritySpec). 4 tables × 2 bits matches the
    // fixture's cos≈0.3-neighbor geometry (~84% pair recall; see
    // d4_topk_lsh's calibration note). CALIBRATION CAVEAT, same slice
    // convention as d9_simjoin_threshold (vec_id%10==0): the synthetic
    // fixture is near-isotropic at threshold 0.3, the one regime
    // hyperplanes cannot split — 2-bit buckets hold n/4 rows each, so the
    // candidate join IS quadratic here and the query runs on a slice to
    // keep the bench line measuring the operator, not an all-pairs scan.
    // A production SemDeDup pass targets cos ≥ 0.8-0.9 (p_bit ≥ 0.85),
    // where 6-8 bits/table genuinely bucket — and the operator's
    // maxBucketSize cap bounds worst-case candidates LINEARLY (tables ·
    // n · cap) when geometry disappoints anyway (capped-run law in
    // SimilaritySpec).
    "d9_semantic_clusters_lsh" -> ((s, sf) => {
      semLshBucketsFor(s, sf) // oracle artifact
      val pairs = SimilarityJoin
        .lshSelfJoinThreshold(
          Tables.embeddings(s, sf).filter(col("vec_id") % 10 === 0),
          col("vec_id"), col("embedding"),
          dim = 64, threshold = semLshThreshold, nbits = semLshBits, tables = semLshTables)
        .select(col("id_a"), col("id_b"))
      Dedup
        .connectedComponents(pairs)
        .select(col("node").as("vec_id"), col("cluster"))
        .orderBy("vec_id")
    }),

    // D9 scale path #2 (the SemDeDup paper's actual algorithm): k-means
    // blocks instead of LSH buckets — assign every vector to its nearest
    // MATERIALIZED IVF centroid (one broadcast join, the d4 index's
    // offline artifact reused as the dedup blocker) and dedup within
    // clusters. Work is Σ cluster², steered by nlist at build time, and
    // candidate quality follows the learned geometry instead of random
    // hyperplanes. Same slice + rows-only conventions as the LSH variant;
    // refinement containment law in SimilaritySpec.
    "d9_semantic_clusters_kmeans" -> ((s, sf) => {
      val centroids = s.read.parquet(s"${ivfIndexFor(s, sf)}/_centroids")
      val assigned = SimilarityJoin.ivfAssign(
        Tables.embeddings(s, sf).filter(col("vec_id") % 10 === 0),
        col("vec_id"), col("embedding"), centroids)
      val pairs = SimilarityJoin
        .selfJoinThreshold(assigned, col("id"), col("v"), col("cid"), threshold = 0.3)
        .select(col("id_a"), col("id_b"))
      Dedup
        .connectedComponents(pairs)
        .select(col("node").as("vec_id"), col("cluster"))
        .orderBy("vec_id")
    }),

    // D2 (exact decontamination): GPT-3/PaLM-style verbatim k-gram hit
    // count against the eval slice — the strict complement of
    // d2_contamination's Jaccard overlap. Eval shingle universe is
    // BROADCAST (benchmarks are dimension-sized next to a 100 TB corpus),
    // so the pass is one corpus scan with no corpus-sized shuffle.
    // k=3 matches the fixture's short docs; production uses k=13.
    "d2_ngram_decontam" -> ((s, sf) => {
      val d = Tables.documents(s, sf)
      Dedup
        .exactNgramDecontam(
          d.filter(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
          d.filter(col("doc_id") % 10 === 0), col("doc_id"), col("text"),
          shingleSize = 3)
        .orderBy("train_id")
    }),

    // D5 (LM quality): CCNet-style perplexity-proxy — train an add-one
    // unigram LM on the reference slice (doc_id%4<>3), score EVERY doc by
    // exact integer-micro log-prob sum. The LM is a broadcast (token,
    // lp_micro) dimension; scoring is explode → broadcast join → one
    // doc-grain hash agg. Mean log-prob = lp_sum/n_toks is a derived
    // column left to consumers (kept out to stay integer-exact).
    "d5_lm_score" -> ((s, sf) => {
      val d  = Tables.documents(s, sf)
      val lm = LmScore.trainUnigram(d.filter(col("doc_id") % 4 =!= 3), col("text"))
      LmScore.score(d, col("doc_id"), col("text"), lm).orderBy("doc_id")
    }),

    // D7 (data selection): DSIR importance resampling — target LM = the
    // lang='en' slice, raw LM = the whole corpus; every doc weighted by
    // w = lp_target − lp_raw (exact integer micro-units) and the top-100
    // kept. The deterministic form of the Gumbel-top-k selection from the
    // DSIR paper; one corpus scan joins BOTH broadcast vocabs.
    "d7_dsir_select" -> ((s, sf) => {
      val d = Tables.documents(s, sf)
      // r22 (guide §1.2 — tokenize once): both LMs used to run their own
      // trainUnigram corpus scan (two tokenize passes). ONE tokenize pass
      // now counts each token twice — corpus-wide and en-slice — and both
      // LMs derive from the shared counts. Identical models by
      // construction: c_en counts exactly the en-slice occurrences, and
      // tokens with c_en = 0 drop, so the target vocab (and its V in the
      // smoothing denominator) matches the slice-trained LM row for row.
      // The oracle hash pins the result.
      val counts = Tables.rebalanceForCpuBy(d, col("doc_id"))
        .select(col("lang"), explode(toks(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(
          count(lit(1)).as("c_raw"),
          count(when(col("lang") === "en", lit(1))).as("c_en"))
        .localCheckpoint() // dual-consumed: one counting pass
      LmScore.dsirSelect(
        d, col("doc_id"), col("text"),
        targetLm = LmScore.lmFromCounts(
          counts.filter(col("c_en") > 0).select(col("token"), col("c_en").as("c"))),
        rawLm = LmScore.lmFromCounts(
          counts.select(col("token"), col("c_raw").as("c"))),
        n = 100)
    }),

    // D7 (chunking): overlapping 64-token windows every 48 tokens — the
    // doc→training-sequence/RAG-passage splitter. Narrow plan: sequence +
    // explode + slice, zero shuffles, no doc ever dropped.
    "d7_chunking" -> ((s, sf) =>
      Mixture
        .chunkDocuments(
          Tables.documents(s, sf), col("doc_id"), col("text"),
          windowTokens = 64, strideTokens = 48)
        .orderBy("doc_id", "chunk_id")),

    // D7 (shuffle): deterministic global corpus shuffle into 8 training
    // shards — the one deliberately-paid full shuffle of the pipeline.
    // Pure modular arithmetic on (doc_id, seed): same permutation on any
    // cluster/partitioning/engine; within-shard order via a window
    // PARTITIONED BY shard (independent per-shard sorts, never a global
    // single-partition sort).
    "d7_global_shuffle" -> ((s, sf) =>
      Mixture
        .globalShuffle(Tables.documents(s, sf), col("doc_id"), numShards = 8, seed = 42)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")),

    // D7 (ops): shard manifest — the integrity record shipped next to a
    // training-shard export: per shard, doc count, exact char mass, id
    // range, and an ORDER-INDEPENDENT content checksum (bit_xor of the
    // oracle-proven rolling-hash fingerprint — xor needs no overflow
    // semantics agreement and commutes, so any partitioning produces the
    // same manifest). A consumer re-derives this from delivered shards
    // and compares, no re-shuffle needed.
    "d7_shard_manifest" -> ((s, sf) =>
      Mixture
        .globalShuffle(Tables.documents(s, sf), col("doc_id"), numShards = 8, seed = 42)
        .withColumn("fp", TextOps.fingerprint(toks(col("text"))))
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"),
          expr("bit_xor(fp)").as("checksum"))
        .orderBy("shard")),

    // D7 (composed): chunk → pack — documents split into disjoint
    // 64-token chunks, then chunks packed into ≤256-token training packs
    // per slice (deterministic shuffleKey order): the two-operator
    // composition a pretraining batch builder runs, oracle-checked end
    // to end. Both stages narrow/windowed; no intermediate
    // materialization.
    "d7_chunk_pack" -> ((s, sf) => {
      val chunks = Mixture
        .chunkDocuments(Tables.documents(s, sf), col("doc_id"), col("text"), 64, 64)
        .withColumn("row_id", col("doc_id") * 1000 + col("chunk_id"))
        .withColumn("slice", pmod(col("doc_id"), lit(4L)))
      Mixture
        .packSequences(chunks, col("row_id"), col("slice"), col("chunk_toks"), 256L)
        .select(col("doc_id"), col("chunk_id"), col("slice"), col("pack_id"), col("chunk_toks"))
        .orderBy("doc_id", "chunk_id")
    }),

    // D7 (curriculum): quality-bucketed curriculum coordinates — the
    // composition a quality-curriculum trainer consumes: the d5 classifier
    // scores every doc (round(.,6) BEFORE bucketing so both engines
    // bucket the same double), fixed-threshold buckets, deterministic
    // within-bucket shuffle. Fully oracle-checkable: the score is the
    // proven d5_quality_score arithmetic and the order key is the same
    // plain modular arithmetic as d7_global_shuffle.
    "d7_curriculum" -> ((s, sf) => {
      import s.implicits._
      val t       = toks(col("text"))
      val weights = Seq((Array(1.2, -1.5, 0.8, 2.0), -2.0)).toDF("w", "bias")
      val scored = Tables
        .documents(s, sf)
        .withColumn("f", array(
          least(size(t).cast("double") / 100.0, lit(1.0)),
          TextOps.stopwordRatio(t),
          TextOps.meanTokenLength(t) / 10.0,
          size(array_distinct(t)).cast("double") / nullif(size(t), lit(0)).cast("double")))
        .crossJoin(broadcast(weights))
        .select(
          col("doc_id"),
          round(TextOps.qualityScore(col("f"), col("w"), col("bias")), 6).as("quality"))
      Mixture
        .curriculumOrder(scored, col("doc_id"), col("quality"), buckets = 4, seed = 42)
        .select(col("doc_id"), col("quality"), col("q_bucket"), col("pos"))
        .orderBy("q_bucket", "pos")
    }),

    // D7 (mixture design): temperature-flattened slice budgets
    // (∝ share^(1/T), T=2) — the multilingual up-sampling rule; output
    // feeds sampleToTokenBudgets. Corpus → slice grain in one
    // map-side-combined agg; everything after is dimension-sized.
    // round(.,6) on the frac absorbs cross-engine pow/sum ulp noise
    // (d5_quality_score precedent for exp).
    "d7_mixture_weights" -> ((s, sf) =>
      Mixture
        .temperatureBudgets(
          Tables.documents(s, sf)
            .withColumn("n_tok", size(toks(col("text"))).cast("long")),
          col("source"), col("n_tok"), temperature = 2.0, totalBudget = 100000L)
        .orderBy("slice")),

    // D5 (CCNet buckets): the head/middle/tail perplexity split — score
    // every doc with the held-in unigram LM (the d5_lm_score model), rank
    // WITHIN language by mean log-prob (best first, doc_id tiebreak →
    // total order → ntile is deterministic), cut into tertiles, report
    // per-(lang, bucket) corpus mass. Plan: one corpus scan + broadcast
    // LM join + doc-grain agg, then a per-lang window (partitioned — no
    // global sort) and a dimension-sized final agg. Zero-token docs rank
    // at the head via greatest(n_toks, 1) (mean 0.0 beats every real
    // negative mean) instead of producing a cross-engine NaN ordering.
    "d5_ccnet_buckets" -> ((s, sf) => {
      val d  = Tables.documents(s, sf)
      val lm = LmScore.trainUnigram(d.filter(col("doc_id") % 4 =!= 3), col("text"))
      val scored = LmScore
        .score(d, col("doc_id"), col("text"), lm)
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn(
          "mean_lp",
          col("lp_sum").cast("double") / greatest(col("n_toks"), lit(1L)).cast("double"))
      scored
        .withColumn(
          "bucket",
          ntile(3)
            .over(Window.partitionBy(col("lang")).orderBy(col("mean_lp").desc, col("doc_id")))
            .cast("long"))
        .groupBy(col("lang"), col("bucket"))
        .agg(
          count(lit(1)).as("docs"),
          sum(col("n_toks")).as("toks"),
          round(max(col("mean_lp")), 6).as("best_mean_lp"),
          round(min(col("mean_lp")), 6).as("worst_mean_lp"))
        .orderBy("lang", "bucket")
    }),

    // D7 (data-constrained scaling): epoch/repeat planning — given a
    // token budget and temperature-flattened per-source allocations
    // (T=2, the d7_mixture_weights rule), how many EPOCHS of each slice
    // does its allocation imply, capped at 4 (the Muennighoff et al.
    // repeat ceiling), and what does the repetition-decay model say the
    // effective token yield is (each further epoch worth half the last:
    // effective = u·(1−0.5^e)/0.5). Slice-grain arithmetic after one
    // map-side-combined agg — the whole plan below the corpus scan is
    // dimension-sized.
    "d7_epoch_plan" -> ((s, sf) => {
      val u = Tables.documents(s, sf)
        .groupBy(col("source").as("slice"))
        .agg(sum(size(toks(col("text"))).cast("long")).as("unique_toks"))
      val w = u.withColumn("w", pow(col("unique_toks").cast("double"), lit(0.5)))
      val wsum = w.agg(sum(col("w")).as("wsum"))
      w.crossJoin(broadcast(wsum))
        .withColumn(
          "alloc_toks",
          round(lit(50000.0) * col("w") / col("wsum")).cast("long"))
        .withColumn(
          "epochs_raw",
          col("alloc_toks").cast("double") / col("unique_toks").cast("double"))
        .withColumn("epochs", least(col("epochs_raw"), lit(4.0)))
        .withColumn(
          "effective_toks",
          round(
            col("unique_toks").cast("double") *
              (lit(1.0) - pow(lit(0.5), col("epochs"))) / lit(0.5)).cast("long"))
        .select(
          col("slice"), col("unique_toks"), col("alloc_toks"),
          round(col("epochs"), 6).as("epochs"), col("effective_toks"))
        .orderBy("slice")
    }),

    // D3 (embedding QC): per-dimension moment profile — mean and
    // population variance of every embedding coordinate, the diagnostic
    // that motivates (and validates) d3_pca_whiten: dead dims, scale
    // imbalance, mean offset. Components quantize to the exact 1e-9
    // micro-grid (the d3_slice_centroid recipe); sums and sums-of-squares
    // ride long / DECIMAL(38,0) — bit-exact under any partitioning — and
    // only the final mean/variance divisions touch doubles. One narrow
    // explode + one map-side-combined agg on a 64-row key space.
    "d3_dim_stats" -> ((s, sf) => {
      // whole-vector moments (functions/VectorAgg.scala): ONE global
      // buffer sums components (exact longs) and squares (base-1e18
      // limbs, 126-bit exact) — no 64× posexplode through the aggregate;
      // the d-row unpack happens on the single aggregated row. The limb
      // pair reassembles to the same DECIMAL(38,0) the old plan (and the
      // oracle) summed, then each moment takes exactly one double cast —
      // bit-identical results.
      val meanQ = col("s").cast("double") / col("n").cast("double")
      val ex2Q  = col("ss").cast("double") / col("n").cast("double")
      Tables
        .embeddings(s, sf)
        .select(VectorAgg.quantizeNano(VectorOps.asDouble(col("embedding"))).as("q"))
        .agg(
          count(lit(1)).as("n"),
          VectorAgg.sumLong(col("q")).as("sv"),
          VectorAgg.sumSquares(col("q")).as("ssl"))
        .select(col("n"), posexplode(col("sv")).as(Seq("pos", "s")), col("ssl"))
        .select(
          col("pos").cast("long").as("pos"), col("n"), col("s"),
          VectorAgg.squaresToDecimal(col("ssl"), col("pos")).as("ss"))
        .select(
          col("pos"), col("n"),
          round(col("s").cast("double") / (col("n") * lit(1e9)), 6).as("mean"),
          round((ex2Q - meanQ * meanQ) / lit(1e18), 6).as("variance"))
        .orderBy("pos")
    }),

    // D5 (corpus health): Zipf slope — least-squares fit of ln(count)
    // against ln(rank) over the top-200 tokens. Natural text sits near
    // slope −1; a corpus that drifts far off is template spam or
    // synthetic filler. The fit runs AFTER TakeOrdered bounds the frame
    // to 200 rows, so the unpartitioned rank window and the closed-form
    // normal-equation aggregation are driver-scale no matter the corpus
    // size; everything upstream is one map-side-combined token count.
    "d5_zipf_fit" -> ((s, sf) => {
      val top = Tables
        .documents(s, sf)
        .select(explode(toks(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok"))
        .limit(200)
        .withColumn(
          "r",
          row_number().over(Window.orderBy(col("c").desc, col("tok"))).cast("double"))
      val slope =
        (col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx"))
      top
        .select(log(col("r")).as("x"), log(col("c").cast("double")).as("y"))
        .agg(
          count(lit(1)).cast("double").as("k"),
          sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(
          col("k").cast("long").as("n_fit"),
          round(slope, 6).as("slope"),
          round((col("sy") - slope * col("sx")) / col("k"), 6).as("intercept"))
    }),

    // D7 (stream assembly): weighted-fair interleave — merge the per-
    // language slices into ONE deterministic training stream where slice
    // k's documents appear at virtual times p/√(slice size) (start-time
    // fair queueing; bigger slices emit proportionally more often, every
    // slice advances). The per-slice position is a PARTITIONED window
    // (independent per-lang sorts); the global order is top-k via
    // TakeOrdered, never a full single-partition sort; the final
    // unpartitioned position window runs over the already-limited 500
    // rows (bounded driver-side frame, same shape as the d6 top-100s).
    "d7_interleave" -> ((s, sf) => {
      val d = Tables.documents(s, sf)
      val wts = d.groupBy(col("lang"))
        .agg(count(lit(1)).as("c"))
        .withColumn("w", sqrt(col("c").cast("double")))
        .select(col("lang"), col("w"))
      val positioned = d
        .select(col("doc_id"), col("lang"))
        .withColumn("p", row_number().over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
        .join(broadcast(wts), "lang")
        .withColumn("vt", col("p").cast("double") / col("w"))
      positioned
        .orderBy(col("vt"), col("lang"), col("doc_id"))
        .limit(500)
        .withColumn(
          "pos",
          row_number()
            .over(Window.orderBy(col("vt"), col("lang"), col("doc_id")))
            .cast("long"))
        .select(col("pos"), col("doc_id"), col("lang"), round(col("vt"), 6).as("vt"))
        .orderBy("pos")
    }),

    // D7 (SFT prep): chat-format conversation assembly with loss-mask
    // accounting — the event log becomes per-user conversations of
    // alternating user/assistant turns (4 chat-template overhead tokens
    // per turn), and each conversation reports how many of its tokens
    // actually train (assistant turns only). One window + one agg, both
    // keyed on conv_id — AQE collapses them onto a single exchange.
    "d7_chat_pack" -> ((s, sf) => {
      val t = ChatPrep.turns(
        Tables.events(s, sf),
        col("user_id"), col("ts"), col("event_id"),
        concat_ws(" ", col("event_type"), col("props")))
      ChatPrep.convStats(t).orderBy("conv_id")
    }),

    // D7 (batching): length-bucketed batching plan — documents binned to
    // power-of-two sequence lengths (the standard padded-batch recipe);
    // per bucket: doc count, real tokens, padding waste, and the batch
    // geometry a fixed 16384-token/batch budget yields. The bucket key
    // space is ~log2(max_len) rows, so the agg is map-side-combined into
    // almost nothing; bucket_len is exact integer arithmetic via the
    // bit-length of (n_tok − 1) — no float log2 edge cases at powers of 2.
    "d7_length_buckets" -> ((s, sf) => {
      val nTok = size(toks(col("text"))).cast("long")
      Tables
        .documents(s, sf)
        .select(col("doc_id"), nTok.as("n_tok"))
        .withColumn(
          "bucket_len",
          when(col("n_tok") <= 1, lit(1L))
            .otherwise(pow(lit(2.0), length(bin(col("n_tok") - 1)).cast("double")).cast("long")))
        .groupBy(col("bucket_len"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("real_toks"))
        .withColumn("padded_toks", col("n_docs") * col("bucket_len"))
        .withColumn(
          "waste_frac",
          round(lit(1.0) - col("real_toks").cast("double") / col("padded_toks").cast("double"), 6))
        .withColumn("batch_size", floor(lit(16384L) / col("bucket_len")).cast("long"))
        .withColumn(
          "n_batches",
          ceil(col("n_docs").cast("double") / col("batch_size").cast("double")).cast("long"))
        .select(
          col("bucket_len"), col("n_docs"), col("real_toks"), col("padded_toks"),
          col("waste_frac"), col("batch_size"), col("n_batches"))
        .orderBy("bucket_len")
    }),

    // D6×D4 (contrastive mining): hard negatives — for each anchor, the
    // top-5 most-similar vectors with a DIFFERENT label: maximally
    // confusing non-matches, the standard negative-mining pass of
    // contrastive/embedding training. The 3-row anchor panel broadcasts;
    // per-anchor ranking rides the rank-filter window (WindowGroupLimit
    // prunes before the shuffle). Label filter ≠ anchor label also
    // excludes the anchor itself. At 100 TB the same query serves from
    // the IVF index (probe instead of scan) — the brute-force form here
    // is the oracle-checkable twin, like d4_topk_bruteforce.
    "d6_hard_negatives" -> ((s, sf) => {
      val e = Tables
        .embeddings(s, sf)
        .select(col("vec_id"), col("label"), VectorOps.asDouble(col("embedding")).as("v"))
      val q = e
        .filter(col("vec_id").isin(0L, 7L, 42L))
        .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qvec"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("label") =!= col("qlabel"))
        .select(
          col("qid"), col("vec_id"),
          round(VectorOps.cosineNative(s, col("v"), col("qvec")), 9).as("cos"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .orderBy("qid", "rank")
    }),

    // D5 (tokenizer eval): per-language fertility/coverage — OOV rate
    // against the learned top-100 vocab, chars-per-token, and the BYTE
    // accounting columns (bytes and bytes-per-token of the non-space
    // text): THE comparison table of any tokenizer-choice writeup (a
    // language with high fertility pays more sequence length per
    // character; non-ASCII languages pay multi-byte characters at the
    // byte tier, which is what d7_bpe_budget's UNK-free ledger counts —
    // UTF-8 octet counts are deterministic and SQL-expressible, so this
    // table stays fully oracle-checked while carrying the byte-tier
    // currency). The vocab is bounded → broadcast; everything else is one
    // explode-agg rolled up to the 10-row lang key space.
    "d5_tokenizer_fertility" -> ((s, sf) => {
      val docs  = Tables.documents(s, sf)
      val vocab = Vocab.build(docs, col("text"), 100)
      val enc = Vocab
        .encode(docs, col("doc_id"), col("text"), vocab)
        .select(col("doc_id"), col("n_tok"), col("n_unk"))
      docs
        .select(
          col("doc_id"), col("lang"),
          length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("nc"),
          octet_length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("nb"))
        .join(enc, "doc_id")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_toks"),
          sum(col("n_unk")).as("total_unk"),
          sum(col("nc")).as("total_chars"),
          sum(col("nb")).as("total_bytes"))
        .select(
          col("lang"), col("n_docs"), col("total_toks"), col("total_bytes"),
          round(col("total_unk").cast("double") / col("total_toks").cast("double"), 6)
            .as("oov_rate"),
          round(col("total_chars").cast("double") / col("total_toks").cast("double"), 6)
            .as("chars_per_tok"),
          round(col("total_bytes").cast("double") / col("total_toks").cast("double"), 6)
            .as("bytes_per_tok"))
        .orderBy("lang")
    }),

    // D5 (privacy audit): k-anonymity over the quasi-identifier tuple
    // (lang, source, 100-char size bucket) — every equivalence class with
    // its population k and the standard release policy: k ≥ 5 release,
    // 2 ≤ k < 5 generalize (widen the bucket), k = 1 suppress. One
    // map-side-combined agg on a bounded key space; the per-doc risk join
    // is just this table broadcast back if needed downstream.
    "d5_k_anonymity" -> ((s, sf) =>
      Tables
        .documents(s, sf)
        .select(
          col("lang"), col("source"),
          (floor(col("n_chars") / 100) * 100).cast("long").as("chars_bucket"))
        .groupBy(col("lang"), col("source"), col("chars_bucket"))
        .agg(count(lit(1)).as("k"))
        .withColumn(
          "action",
          when(col("k") >= 5, lit("release"))
            .when(col("k") >= 2, lit("generalize"))
            .otherwise(lit("suppress")))
        .orderBy("lang", "source", "chars_bucket")),

    // D2 (memorization risk): per-document duplicated-shingle fraction —
    // how much of a doc's 5-token shingle set also occurs in ≥2 documents
    // corpus-wide. High dup_frac = content the model will see many times
    // (boilerplate, templates, licensed text) — the per-doc risk score
    // behind span-level dedup policies (Lee et al. 2021). Shingle
    // machinery identical to d2_span_dedup's; the cross-doc test is a
    // skew-immune hash agg on the shingle key joined back, and EVERY doc
    // surfaces (left join; short docs report 0 shingles).
    "d2_memorization_risk" -> ((s, sf) => {
      // Shingle stream = Dedup.shingleHashes: ONE mapPartitions JVM pass
      // (tokenize → slide → FNV-64 fingerprint → per-doc distinct) in
      // place of the declarative split/transform/concat_ws/explode
      // chain, which runs interpreted (HOFs don't codegen) and
      // materializes every shingle string — profiled at sf0.1 that chain
      // was 6.0 s of a 7.7 s query; this pass is sub-second.
      // Fingerprint identity ≡ the oracle's string shingles modulo
      // 64-bit collisions (absent in the fixtures — the row is
      // hash-green vs the STRING-shingle DuckDB twin; the tokenization
      // bit-equality law is in DedupSpec). Materialized ONCE as 16-byte
      // (doc_id, h) rows: an agg over the lazy plan would re-tokenize
      // per consumer (24.9 s), a string checkpoint measured 9.5 s.
      val ex = Dedup
        .shingleHashes(Tables.documents(s, sf), col("doc_id"), col("text"), 5)
        .localCheckpoint()
      // Skew-immunity without a corpus-sized join-back: a (doc, shingle)
      // pair is a DUP iff its shingle occurs in ≥2 docs, so per doc
      //   n_dup = n_shingles − #(shingles unique to this doc),
      // and both terms are plain partial+final hash aggs — the hot
      // boilerplate shingle folds map-side into ≤ #tasks partial rows,
      // where the earlier count-window over Window.partitionBy(s) put
      // the whole hot shingle on ONE reducer (O(N) straggler at 100 TB).
      // min(doc_id) identifies the owner exactly when the count is 1.
      val tot = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      val uniq = ex
        .groupBy(col("h"))
        .agg(count(lit(1)).as("c"), min(col("doc_id")).as("d0"))
        .filter(col("c") === 1)
        .groupBy(col("d0").as("doc_id"))
        .agg(count(lit(1)).as("n_uniq"))
      Tables
        .documents(s, sf)
        .select(col("doc_id"))
        .join(tot, Seq("doc_id"), "left")
        .join(uniq, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          (coalesce(col("n_shingles"), lit(0L)) - coalesce(col("n_uniq"), lit(0L))).as("n_dup"),
          round(
            coalesce(
              (coalesce(col("n_shingles"), lit(0L)) - coalesce(col("n_uniq"), lit(0L)))
                .cast("double") /
                nullif(coalesce(col("n_shingles"), lit(0L)).cast("double"), lit(0.0)),
              lit(0.0)),
            6).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // D9 (graph structure): per-node triangle counts over the near-dup
    // graph — the clique-vs-chain diagnostic that decides whether
    // transitive closure (connectedComponents) is safe to collapse or
    // over-merges. Degree-ordered node-iterator (operators/Triangles
    // .scala): out-degree ≤ O(√m) under the (deg, id) orientation, so the
    // wedge join survives hub skew that would square a naive self-join.
    // Oracle: DuckDB recomputes the same Jaccard edges + naive a<b<c
    // 3-way join (safe at oracle scale, not at 100 TB).
    "d9_triangle_count" -> ((s, sf) => {
      val edges = s.read.parquet(neardupEdgesFor(s, sf)) // offline graph build
      Triangles
        .perNodeCounts(edges, col("doc_a"), col("doc_b"))
        .select(col("n").as("doc_id"), col("n_triangles"))
        .orderBy("doc_id")
    }),

    // D3 (representation health): embedding isotropy — the anisotropy
    // diagnostic (Ethayarajh/Mu-Viswanath-style) that says whether cosine
    // scores carry signal or every vector points the same way. Uses the
    // resultant-vector identity: for unit vectors u_i with S = Σ u_i,
    // mean pairwise cos = (‖S‖² − Σ‖u_i‖²) / (n(n−1)) — ONE narrow
    // explode + a 64-row agg instead of the n² pair join. Exactness
    // convention: components quantize to the 1e-9 micro-grid, all sums
    // ride longs / DECIMAL(38,0) (HUGEINT on the oracle), one final
    // double divide — so the identity holds bit-for-bit on both engines
    // and any partitioning. centroid_norm = ‖S‖/n is the companion
    // "common-direction mass" number (0 for perfectly isotropic).
    "d3_isotropy" -> ((s, sf) => {
      // whole-vector aggregation (functions/VectorAgg.scala): ONE pass
      // carries n, the resultant component sums (exact longs), and the
      // per-component square sums (base-1e18 limbs) — no 64× posexplode
      // through the agg and no second corpus scan for n. The 64-element
      // unpack + the Σsd²/Σself reductions run on the single aggregated
      // row; all integers identical to the exploded plan's decimal sums.
      Tables
        .embeddings(s, sf)
        .select(VectorAgg
          .quantizeNano(VectorOps.normalize(VectorOps.asDouble(col("embedding")))).as("q"))
        .agg(
          count(lit(1)).as("n"),
          VectorAgg.sumLong(col("q")).as("sv"),
          VectorAgg.sumSquares(col("q")).as("ssl"))
        .select(col("n"), posexplode(col("sv")).as(Seq("pos", "sd")), col("ssl"))
        .select(col("n"), col("sd"),
          VectorAgg.squaresToDecimal(col("ssl"), col("pos")).as("self_d"))
        .groupBy(col("n"))
        .agg(
          sum(col("sd").cast(DecimalType(38, 0)) * col("sd")).as("s2"),
          sum(col("self_d")).as("self2"))
        .select(
          col("n"),
          round(
            (col("s2") - col("self2")).cast("double")
              / (col("n").cast("double") * (col("n") - 1).cast("double") * lit(1e18)),
            9).as("mean_pair_cos"),
          round(sqrt(col("s2").cast("double")) / (col("n").cast("double") * lit(1e9)), 9)
            .as("centroid_norm"))
    }),

    // D5 (collocations): top-20 adjacent-bigram PMI — the corpus-analysis
    // pass that surfaces multiword units ("new york"-style) for
    // tokenizer/vocab design: PMI = ln(c_ab·N / (c_a·c_b)), support floor
    // c_ab ≥ 5 (PMI's low-count pathology), rounded BEFORE the ranking so
    // both engines cut the same top-20. Exact integer counts all the way;
    // one explode feeds both the unigram and bigram aggs.
    "d5_collocations" -> ((s, sf) => {
      val tk = Tables.documents(s, sf).select(toks(col("text")).as("tk"))
      val bigrams = tk.select(
        explode(
          when(size(col("tk")) >= 2,
            transform(
              sequence(lit(1), size(col("tk")) - 1),
              i => struct(
                element_at(col("tk"), i).as("w1"),
                element_at(col("tk"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2")
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5)
      val uni = tk
        .select(explode(col("tk")).as("w"))
        .groupBy("w")
        .agg(count(lit(1)).as("cw"))
      val n = tk.select(explode(col("tk")).as("w")).agg(count(lit(1)).cast("double").as("n_tok"))
      bigrams
        .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
        .crossJoin(broadcast(n))
        .select(
          col("w1"), col("w2"), col("cab"),
          round(
            log((col("cab").cast("double") * col("n_tok"))
              / (col("c1").cast("double") * col("c2").cast("double"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // D6 (retrieval UX): best-snippet extraction — per matching doc, the
    // 10-token window with the most query-term hits (earliest window on
    // ties), re-sliced to the display string. One explode + ONE forward-
    // looking window frame (ROWS current..+9) + rank-1 — no join against
    // a position table; integer hit counts keep the argmax engine-exact.
    "d6_snippet" -> ((s, sf) => {
      val terms = Seq("scan", "hash", "dup")
      val base = docsCpu(s, sf)
        .select(col("doc_id"), toks(col("text")).as("tk"))
      val ex = base
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("p", "tok")))
        .withColumn("hit", col("tok").isin(terms: _*).cast("long"))
      val wf = Window.partitionBy(col("doc_id")).orderBy(col("p")).rowsBetween(0, 9)
      val wr = Window.partitionBy(col("doc_id")).orderBy(col("hits").desc, col("p"))
      val best = ex
        .withColumn("hits", sum(col("hit")).over(wf))
        .withColumn("rk", row_number().over(wr))
        .filter(col("rk") === 1 && col("hits") >= 1)
        .select(col("doc_id"), col("p").cast("long").as("start_pos"), col("hits"))
      best
        .join(base, Seq("doc_id"))
        .select(
          col("doc_id"), col("start_pos"), col("hits"),
          concat_ws(" ", slice(col("tk"), col("start_pos") + 1, lit(10))).as("snippet"))
        .orderBy("doc_id")
    }),

    // D5 (explicit denylist): blocklist filtering — the CCNet/RefinedWeb
    // stage that is NOT a learned quality gate: documents touching a
    // curated denylist drop outright, and the report says how much each
    // source lost (the number a curation review reads). The blocklist is
    // a literal array, so the hit test is a codegen'd arrays_overlap per
    // row — no join, no shuffle before the per-source rollup.
    "d5_blocklist_filter" -> ((s, sf) => {
      val blocked = array(lit("spark"), lit("merge"), lit("window"))
      Tables.documents(s, sf)
        .select(col("source"),
          arrays_overlap(TextOps.tokenSet(col("text")), blocked).cast("long").as("hit"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("hit")).as("n_blocked"),
          (count(lit(1)) - sum(col("hit"))).as("n_kept"),
          round(sum(col("hit")).cast("double") / count(lit(1)), 6).as("blocked_frac"))
        .orderBy("source")
    }),

    // D8 (perceptual dedup): image aHash — the content hash that survives
    // re-encode/resize where byte hashes (d8_payload_dedup) break. Each
    // doc's image is hashed raw AND after a real bilinear 2× resize +
    // PNG re-encode; the per-doc Hamming distance is the robustness
    // readout (small ⇒ the hash keys a near-dup tier the way MinHash
    // bands do for text). JVM-side integer hash → no SQL twin →
    // rows-only; determinism/robustness/discrimination laws in
    // MultimodalSpec.
    "d8_image_phash" -> ((s, sf) => {
      // materialize the rendered payloads once: the raw-hash branch and
      // the resize branch would otherwise each re-render every PNG
      val imgs = Multimodal.attachImagePayload(Tables.documents(s, sf), 16, 16)
        .localCheckpoint(true)
      val h1   = Multimodal.imageAHashes(imgs).filter(col("ok"))
        .select(col("doc_id"), col("ahash"))
      val h2 = Multimodal
        .imageAHashes(Multimodal.resizeImage(imgs, 32, 32))
        .filter(col("ok"))
        .select(col("doc_id"), col("ahash").as("ahash_resized"))
      h1.join(h2, Seq("doc_id"))
        .select(
          col("doc_id"), col("ahash"), col("ahash_resized"),
          bit_count(col("ahash").bitwiseXOR(col("ahash_resized"))).cast("long").as("hamming"))
        .orderBy("doc_id")
    }),

    // D3 (clustering quality): simplified silhouette per label — for each
    // vector, a = distance to its OWN label centroid, b = distance to the
    // nearest OTHER centroid, s = (b−a)/max(a,b); the per-label mean says
    // whether the labels form separable clusters in embedding space (the
    // companion number to d3_label_affinity's centroid-cosine matrix).
    // "Simplified" (centroid-based, the scalable variant) — the classic
    // per-point-pairwise silhouette is O(n²) by definition. Centroids are
    // micro-grid exact (one corpus agg); the vector×centroid pass is a
    // 10-row broadcast; per-label means quantize s to nano units so the
    // sum is order-independent.
    "d3_silhouette" -> ((s, sf) => {
      val e = Tables.embeddings(s, sf)
      // centroids via whole-vector aggregation (functions/VectorAgg.scala):
      // ONE hash agg straight to the centroid ARRAY — no posexplode blowup,
      // no (clabel, pos) re-group, no collect_list re-assembly. Long sums
      // keep the micro-grid exactness; transform applies the single double
      // divide per component in array order (== the old sort_array(pos)).
      val cents = e
        .select(col("label").cast("long").as("clabel"),
          VectorAgg.quantizeNano(VectorOps.asDouble(col("embedding"))).as("q"))
        .groupBy(col("clabel"))
        .agg(VectorAgg.sumLong(col("q")).as("sv"), count(lit(1)).as("n"))
        .select(col("clabel"),
          transform(col("sv"), s0 => s0.cast("double") / (col("n") * lit(1e9))).as("cvec"))
      val dist = e
        .select(col("vec_id"), col("label").cast("long").as("label"),
          VectorOps.asDouble(col("embedding")).as("v"))
        .crossJoin(broadcast(cents))
        .select(
          col("vec_id"), col("label"), col("clabel"),
          // native fused loop — bit-identical to the zip_with/aggregate
          // form (CosineExpressionSpec law); this is the n×|labels| inner
          // loop, where interpreted HOF lambdas were the query's real cost
          VectorOps.l2Native(s, col("v"), col("cvec")).as("d"))
      val ab = dist
        .groupBy(col("vec_id"), col("label"))
        .agg(
          min(when(col("clabel") === col("label"), col("d"))).as("a"),
          min(when(col("clabel") =!= col("label"), col("d"))).as("b"))
      ab
        .select(
          col("label"),
          (round(
            (col("b") - col("a")) / greatest(col("a"), col("b")) * lit(1e9))
            .cast("long")).as("s_nano"))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("s_nano")).cast("double") / (count(lit(1)) * lit(1e9)), 6).as("mean_silhouette"))
        .orderBy("label")
    }),

    // D9 (graph density): 2-core of the near-dup graph — the unique
    // maximal subgraph where every doc keeps ≥2 similar neighbors:
    // mutually-confirming duplicate clusters (cliques/cycles) with the
    // chain-of-coincidence edges peeled away (operators/KCore.scala,
    // synchronous shell peeling, checkpointed rounds). Oracle: the peel
    // unrolls over the materialized edge artifact (40 CTE layers ≫ the
    // fixture's convergence depth — an unconverged unroll hash-fails
    // loudly); definition/maximality/determinism laws vs a brute-force
    // reference in KCoreSpec.
    "d9_kcore" -> ((s, sf) => {
      val edges = s.read.parquet(neardupEdgesFor(s, sf)) // offline graph build
      KCore
        .kCore(edges, col("doc_a"), col("doc_b"), k = 2)
        .select(col("node").as("doc_id"), col("core_deg"))
        .orderBy("doc_id")
    }),

    // D3 (embedding eval): kNN label consistency — the standard intrinsic
    // quality probe for an embedding table: does majority vote over the 5
    // nearest neighbors recover each probe's own label? Per-label
    // accuracy is the report a team reads before trusting cosine-based
    // dedup/clustering on a new embedding model. Probe panel broadcasts
    // (1-in-10 slice); candidates ride the same broadcast-panel scan as
    // d4_topk_batch (no all-pairs); self always lands in the top-6 (cos
    // 1.0, id tie-break) and is dropped, leaving exactly 5 voters.
    // Deterministic vote ties: max count, then min label.
    "d3_knn_eval" -> ((s, sf) => {
      val e = Tables.embeddings(s, sf)
      val probes = e
        .filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), VectorOps.asDouble(col("embedding")).as("qvec"))
      val nn = SimilarityJoin
        .topKBatch(e, col("vec_id"), col("embedding"), probes, k = 6)
        .filter(col("vec_id") =!= col("qid"))
        .join(e.select(col("vec_id"), col("label").cast("long").as("nlabel")), Seq("vec_id"))
      val votes = nn.groupBy(col("qid"), col("nlabel")).agg(count(lit(1)).as("c"))
      val wv    = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("nlabel"))
      val pred  = votes
        .withColumn("r", row_number().over(wv))
        .filter(col("r") === 1)
        .select(col("qid"), col("nlabel").as("pred"))
      pred
        .join(
          e.filter(col("vec_id") % 10 === 0)
            .select(col("vec_id").as("qid"), col("label").cast("long").as("qlabel")),
          Seq("qid"))
        .groupBy(col("qlabel").as("label"))
        .agg(
          count(lit(1)).as("n_probes"),
          sum(when(col("pred") === col("qlabel"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc", round(col("n_correct").cast("double") / col("n_probes").cast("double"), 6))
        .orderBy("label")
    }),

    // D7 (split QA): near-dup leakage across the train/val/test boundary —
    // the audit that catches what a random split silently does to
    // evaluation: near-duplicate pairs straddling splits inflate eval
    // scores exactly like verbatim contamination. Composes the session's
    // materialized similarity edges with the deterministic modular-hash
    // split; output is the per-(split, split) crossing matrix, CROSSING
    // rows being the leak. Both inputs are engine-replayable, so the
    // audit is fully oracle-checked.
    "d7_split_leakage" -> ((s, sf) => {
      val split = Mixture
        .stratifiedSplit(
          Tables.documents(s, sf), col("doc_id"),
          fractions = Seq("train" -> 80, "val" -> 90), defaultLabel = "test")
        .select(col("doc_id"), col("split"))
      val edges = s.read.parquet(neardupEdgesFor(s, sf))
      edges
        .join(split.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "sa"), Seq("doc_a"))
        .join(split.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "sb"), Seq("doc_b"))
        .select(
          least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"))
        .groupBy(col("split_lo"), col("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("crossing", col("split_lo") =!= col("split_hi"))
        .orderBy("split_lo", "split_hi")
    }),

    // D2 (threshold tuning): the Jaccard-threshold sweep — pair count and
    // touched-doc count at τ ∈ {0.2, 0.3, 0.5} from ONE candidate join at
    // the loosest τ (tighter thresholds are filters over the same pair
    // frame, not re-joins): the curve a curation team reads to pick the
    // dedup threshold before committing a 100 TB pass.
    "d2_threshold_sweep" -> ((s, sf) => {
      import s.implicits._
      val pairs = Dedup
        .ngramJaccardPairs(Tables.documents(s, sf), col("doc_id"), col("text"),
          shingleSize = 3, threshold = 0.2)
      val thr = Seq(0.2, 0.3, 0.5).toDF("thr")
      // explode to endpoints: each pair contributes exactly two rows, so
      // n_pairs = rows/2 and n_docs is a plain distinct count — no
      // collect_list buffer to blow up on a dup-heavy corpus
      pairs
        .crossJoin(broadcast(thr))
        .filter(col("jac") >= col("thr"))
        .select(col("thr"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
        .groupBy(col("thr"))
        .agg(
          (count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct(col("d")).as("n_docs"))
        .orderBy("thr")
    }),

    // D2 (asymmetric overlap): containment pairs — the doc-inside-doc
    // detector symmetric Jaccard is blind to (excerpts, quoted docs,
    // template wrappers). Both directions emitted per pair; threshold on
    // the max direction. Dedup.containmentPairs: shared-shingle candidate
    // join, deliberately no size prune (incomparable sizes are the
    // signal).
    "d2_containment" -> ((s, sf) =>
      Dedup
        .containmentPairs(Tables.documents(s, sf), col("doc_id"), col("text"),
          shingleSize = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b")),

    // D9 (graph shape): degree histogram of the near-dup graph — the
    // one-glance skew readout (a fat tail here is the hub that makes
    // naive pair joins quadratic and is why Triangles orients by degree).
    "d9_degree_hist" -> ((s, sf) => {
      val e = s.read.parquet(neardupEdgesFor(s, sf)) // offline graph build
      e.select(col("doc_a").as("n"))
        .unionAll(e.select(col("doc_b").as("n")))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("degree"))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    }),

    // D1 (storage-level dedup): content-defined chunking — variable-size
    // chunks cut where a 4-token rolling window md5-hashes to a boundary
    // nibble (Dedup.cdcChunks, FastCDC/rsync family). Chunk-hash overlap
    // catches the re-fetched/templated near-copies that exact-doc dedup
    // misses while staying corpus-LINEAR (no pair join at all — compare
    // d2's candidate joins): per-doc shared-token mass is the projected
    // storage saving of chunk-level dedup at 100 TB. One window count
    // over chunk_hash (same one-pass trick as d2_span_dedup).
    "d1_cdc_dedup" -> ((s, sf) => {
      val chunks = Dedup.cdcChunks(Tables.documents(s, sf), col("doc_id"), col("text"))
      chunks
        .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("chunk_hash"))))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"),
          sum(col("n_tok")).as("n_tok"),
          sum(when(col("occ") >= 2, col("n_tok")).otherwise(0L)).as("shared_tok"))
        .withColumn("shared_frac",
          round(col("shared_tok").cast("double") / col("n_tok").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // D6 (retrieval, 2nd scorer): Dirichlet-smoothed query likelihood —
    // the language-modeling ranker next to BM25's tf-idf one: score =
    // Σ_t ln((tf + μ·cf_t/|C|) / (dl + μ)) over the SAME 3-term panel,
    // so the two rankers are comparable row for row (and fusable by
    // d6_rrf_fusion's machinery). Unlike BM25 a query term ABSENT from
    // the doc still scores (the background model) — the doc×term grid is
    // a 3-row broadcast, zero-filled tf. Per-term scores quantize to
    // pico-units (exact long sums, the d6_bm25 convention); one corpus
    // scan for tf/cf/|C|.
    "d6_query_likelihood" -> ((s, sf) => {
      val terms = Seq("scan", "hash", "dup")
      val docs  = Tables.documents(s, sf).select(col("doc_id"), toks(col("text")).as("tk"))
      val dl    = docs.select(col("doc_id"), size(col("tk")).cast("double").as("dl"))
      val ex    = docs.select(col("doc_id"), explode(col("tk")).as("t"))
      val hits  = ex.filter(col("t").isin(terms: _*))
      val cf    = hits.groupBy(col("t")).agg(count(lit(1)).cast("double").as("cf"))
      val tf    = hits.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).cast("double").as("tf"))
      val nTot  = ex.agg(count(lit(1)).cast("double").as("n_total"))
      val sMicro = round(
        log((coalesce(col("tf"), lit(0.0)) + (lit(300.0) * col("cf")) / col("n_total"))
          / (col("dl") + lit(300.0))) * lit(1e12)).cast("long")
      dl
        .crossJoin(broadcast(cf))       // 3-row term dim
        .crossJoin(broadcast(nTot))     // 1-row corpus total
        .join(tf, Seq("doc_id", "t"), "left")
        .select(col("doc_id"), sMicro.as("s"), (coalesce(col("tf"), lit(0.0)) > 0.0).cast("long").as("m"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("m")).as("n_matched"),
          round(sum(col("s")).cast("double") / 1e12, 6).as("ql"))
        .orderBy(col("ql").desc, col("doc_id"))
        .limit(20)
    }),

    // D7 (SFT batching): first-fit-decreasing packing — sequences that
    // must NOT split (chat transcripts, instruction pairs) packed into
    // 512-token bins with minimal padding waste (FFD ≤ 11/9·OPT vs
    // next-fit's 2·OPT). Hash-bounded sub-groups keep per-task FFD state
    // shard-sized at any corpus scale; pack keys are hierarchical
    // (slice/sub/local). Oracle: the portable shuffle key + a recursive
    // CTE that folds the loop-carried bin state replay FFD exactly in
    // SQL; conservation / capacity / beats-sequential /
    // partitioning-independence laws in MixtureSpec.
    "d7_ffd_packing" -> ((s, sf) => {
      val docs = Tables
        .documents(s, sf)
        .withColumn("n_tok", size(toks(col("text"))).cast("long"))
      Mixture
        .packFirstFitDecreasing(docs, col("doc_id"), col("source"), col("n_tok"),
          maxTokensPerPack = 512L, subGroups = 2)
        .groupBy(col("slice"), col("pack_key"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("pack_tokens"),
          max(col("oversize").cast("int")).cast("boolean").as("has_oversize"))
        .orderBy("slice", "pack_key")
    }),

    // D5 (lexical diversity): MSTTR — mean segmental type-token ratio,
    // the standard windowed TTR that removes raw TTR's length bias by
    // averaging distinct/total over fixed 25-token segments (ragged tail
    // dropped, per the metric's definition). Template/boilerplate docs
    // score low at any length; the companion signal to d5_repetition's
    // top-bigram share. Narrow explode → (doc, segment) agg → doc agg;
    // decimal segment-TTR sums so the mean is order-independent.
    "d5_msttr" -> ((s, sf) => {
      val segLen = 25
      val segs = Tables
        .documents(s, sf)
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
        .groupBy(col("doc_id"), (col("pos") / segLen).cast("long").as("seg"))
        .agg(countDistinct(col("tok")).as("types"), count(lit(1)).as("toks"))
        .filter(col("toks") === segLen)
      segs
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segments"), sum(col("types")).as("st"))
        // exact long sum of per-segment type counts; ONE double divide at
        // the end so both engines round the same value
        .select(
          col("doc_id"), col("n_segments"),
          round(col("st").cast("double") / (col("n_segments").cast("double") * segLen), 9)
            .as("msttr"))
        .orderBy("doc_id")
    })
  )

  /** Static oracle SQL plus the MATERIALIZED-INDEX oracles: the IVF/PQ/
    * OPQ/IVFPQ/LSH serving artifacts are bit-deterministic (fixed-seed
    * Lloyd, stride seeds, xxhash hyperplanes — no RNG anywhere), so an
    * external engine reading the SAME index parquet reproduces every
    * probe exactly. Those entries are generated AFTER the queries run
    * (Verify dumps oracle_sql.json last), when the artifact paths for
    * the run's dataset are known — see [[indexOracleSql]]. */
  def sql: Map[String, String] = staticSql ++ indexOracleSql

  /** d6_mmr's greedy selection unrolled: 10 argmax picks as CTE layers
    * over the BM25 top-20 (the d6_bm25 scoring CTE verbatim) and the
    * candidates' pairwise cosines — `0.7·rel − 0.3·max-sim-to-selected`,
    * ties to the lowest id, exactly [[graft.operators.Mmr.rerank]]'s
    * driver loop. MATERIALIZED hints keep the step chain from inlining
    * into an exponential plan. Candidates without an embedding row read
    * max-sim 0, the operator's missing-pair convention. */
  private def mmrOracleSql: String = {
    val head =
      s"""toks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks FROM documents),
          stats AS (SELECT count(*) AS n_docs, avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM toks),
          tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, u.tok AS t, CAST(count(*) AS DOUBLE) AS tf
                 FROM toks, unnest(toks) AS u(tok) WHERE u.tok IN ('scan','hash','dup')
                 GROUP BY doc_id, dl, u.tok),
          dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
          sc AS (SELECT doc_id, CAST(round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                  * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e12) AS BIGINT) AS s_micro
                 FROM tf JOIN dfreq USING (t) CROSS JOIN stats),
          bm AS MATERIALIZED (SELECT doc_id, round(CAST(sum(s_micro) AS DOUBLE) / 1e12, 6) AS bm25
                FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
          emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                 WHERE vec_id IN (SELECT doc_id FROM bm)),
          simb AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib,
                  list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
                  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
          sel0 AS (SELECT CAST(NULL AS BIGINT) AS sel_rank, CAST(NULL AS BIGINT) AS doc_id,
                          CAST(NULL AS DOUBLE) AS rel, CAST(NULL AS DOUBLE) AS mmr WHERE 1=0)"""
    val steps = (0 until 10).map { i =>
      s"""p$i AS MATERIALIZED (
            SELECT c.doc_id AS id, c.bm25 AS rel,
              0.7 * c.bm25 - 0.3 * coalesce((SELECT max(s.cos) FROM simb s
                WHERE s.ia = c.doc_id AND s.ib IN (SELECT doc_id FROM sel$i)), 0.0) AS score
            FROM bm c
            WHERE c.doc_id NOT IN (SELECT doc_id FROM sel$i WHERE doc_id IS NOT NULL)),
          pick$i AS MATERIALIZED (SELECT id, rel, score FROM p$i ORDER BY score DESC, id LIMIT 1),
          sel${i + 1} AS MATERIALIZED (
            SELECT * FROM sel$i UNION ALL
            SELECT CAST(${i + 1} AS BIGINT), id, rel, score FROM pick$i)"""
    }
    (head +: steps).mkString("WITH ", ", ", "") +
      """
      SELECT sel_rank, doc_id, round(rel, 6) AS rel, round(mmr, 6) AS mmr
      FROM sel10 WHERE sel_rank IS NOT NULL ORDER BY sel_rank"""
  }

  /** DuckDB twins of the ARTIFACT-BACKED queries — the d4 index-serving
    * probes plus the deterministic d3/d9 analytics (PCA projection off
    * the stored model, k-means-blocked semantic clusters via a recursive
    * min-reachability fixpoint, unrolled label-propagation and PageRank
    * rounds over the materialized edge lists) — reading the session's
    * materialized directories directly (`read_parquet` over the same
    * files the Spark scans prune). Emitted only when the artifacts of
    * exactly ONE dataset are materialized in this JVM — the Verify
    * shape; ambiguous or missing artifacts fall back to rows-only, never
    * to an oracle over the wrong corpus's index. Every numeric step
    * mirrors the Spark expression shape 1:1 (sequential-fold dot
    * products, decimal-exact sums, round-before-rank, id tie-breaks),
    * the same discipline that keeps d4_topk_bruteforce hash-green. */
  private def indexOracleSql: Map[String, String] = {
    val bySf = ivfIndexes.keys.groupBy(k => k.substring(0, k.lastIndexOf('#')))
    if (bySf.size != 1) return Map.empty
    val sf = bySf.keys.head
    def pathOf(tag: String): Option[String] = ivfIndexes.get(s"$sf#$tag")

    // cosine in the house spelling: sequential dot, norms, one division
    def cosSql(a: String, b: String): String =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    // the single-row query vector every d4 probe uses (corpus vector 0)
    val qCte = "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0)"
    val qnCte = "qn AS (SELECT list_transform(qvec, x -> x / sqrt(list_dot_product(qvec, qvec))) AS qn FROM q)"
    // nprobe nearest centroids by unrounded cosine, cid tie-break —
    // ivfProbe's probe list
    def probesCte(idx: String, nprobe: Int): String =
      s"""c AS (SELECT cid, cvec FROM read_parquet('$idx/_centroids/*.parquet')),
         probes AS (SELECT cid FROM c, q
           ORDER BY ${cosSql("cvec", "qvec")} DESC, cid LIMIT $nprobe)"""
    // the per-query ADC table + per-id sequential-fold score over a codes
    // relation named `codes` (PqParams: m=16, dsub=4 — the fixture config
    // every PQ artifact here is built with)
    val adcCtes =
      """tv AS (SELECT sub, code, list_dot_product(qn[sub*4+1 : sub*4+4], cw) AS tv FROM cb, qn),
         terms AS (
           SELECT c.id, s.s AS sub, tv.tv
           FROM codes c, (SELECT unnest(generate_series(0, 15)) AS s) s
           JOIN tv ON tv.sub = s.s AND tv.code = c.codes[s.s + 1]),
         scores AS (
           SELECT id AS vec_id, round(list_sum(list(tv ORDER BY sub)), 9) AS cos_adc
           FROM terms GROUP BY id)"""
    def rerankSql(shortCte: String): String =
      s"""SELECT e.vec_id, round(${cosSql("CAST(e.embedding AS DOUBLE[])", "q.qvec")}, 9) AS cos
          FROM embeddings e JOIN $shortCte USING (vec_id), q
          ORDER BY cos DESC, vec_id LIMIT 10"""

    def ivfOracle(idx: String, nprobe: Int, quantized: Boolean, labelFilter: Boolean): String = {
      val vExpr = if (quantized) "list_transform(q, x -> CAST(x AS DOUBLE) * sc)" else "v"
      val keep = if (labelFilter)
        " AND id IN (SELECT vec_id FROM embeddings WHERE label = 3)" else ""
      s"""WITH $qCte,
          ${probesCte(idx, nprobe)},
          idx AS (SELECT id, $vExpr AS v
                  FROM read_parquet('$idx/cid=*/*.parquet', hive_partitioning=1)
                  WHERE CAST(cid AS BIGINT) IN (SELECT cid FROM probes)$keep)
          SELECT id AS vec_id, round(${cosSql("v", "qvec")}, 9) AS cos
          FROM idx, q ORDER BY cos DESC, vec_id LIMIT 10"""
    }

    val ivf = pathOf("float").map(idx =>
      "d4_topk_ivf" -> ivfOracle(idx, nprobe = 4, quantized = false, labelFilter = false))
    val ivfF = pathOf("float").map(idx =>
      "d4_topk_ivf_filtered" -> ivfOracle(idx, nprobe = 8, quantized = false, labelFilter = true))
    val ivfQ = pathOf("int8").map(idx =>
      "d4_topk_ivf_q" -> ivfOracle(idx, nprobe = 4, quantized = true, labelFilter = false))

    val pq = pathOf("pqflat").map(p => "d4_topk_pq" ->
      s"""WITH $qCte, $qnCte,
          cb AS (SELECT sub, code, cw FROM read_parquet('$p/_codebooks/*.parquet')),
          codes AS (SELECT id, codes FROM read_parquet('$p/*.parquet')),
          $adcCtes,
          short AS (SELECT vec_id FROM scores ORDER BY cos_adc DESC, vec_id LIMIT 50)
          ${rerankSql("short")}""")

    val ivfpq = pathOf("pq").map(p => "d4_topk_ivfpq" ->
      s"""WITH $qCte, $qnCte,
          ${probesCte(p, nprobe = 4)},
          cb AS (SELECT sub, code, cw FROM read_parquet('$p/_codebooks/*.parquet')),
          codes AS (SELECT id, codes FROM read_parquet('$p/cid=*/*.parquet', hive_partitioning=1)
                    WHERE CAST(cid AS BIGINT) IN (SELECT cid FROM probes)),
          $adcCtes
          SELECT vec_id, cos_adc FROM scores ORDER BY cos_adc DESC, vec_id LIMIT 10""")

    // OPQ: rotate the query with the stored PCA model (centered dot per
    // component, comp order), normalize, ADC-shortlist on the rotated
    // codes, exact rerank in the ORIGINAL space — d4_topk_opq 1:1
    val opq = pathOf("opq").map(p => "d4_topk_opq" ->
      s"""WITH $qCte,
          model AS (SELECT comp, evec FROM read_parquet('$p/_model/*.parquet')),
          mn AS (SELECT evec AS mn FROM model WHERE comp = -1),
          qc AS (SELECT list_transform(qvec, (x,i) -> x - mn[i]) AS cv FROM q, mn),
          qrot AS (SELECT list(list_dot_product(qc.cv, m.evec) ORDER BY m.comp) AS qv
                   FROM qc, model m WHERE m.comp >= 0 AND m.comp < 64),
          qn AS (SELECT list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv))) AS qn FROM qrot),
          cb AS (SELECT sub, code, cw FROM read_parquet('$p/_codebooks/*.parquet')),
          codes AS (SELECT id, codes FROM read_parquet('$p/*.parquet')),
          $adcCtes,
          short AS (SELECT vec_id FROM scores ORDER BY cos_adc DESC, vec_id LIMIT 50)
          ${rerankSql("short")}""")

    // LSH: the query is corpus vector 0, so its stored (t, key) rows ARE
    // the probe — candidates = ids sharing any table slice with id 0
    val lsh = pathOf("lsh").map(p => "d4_topk_lsh" ->
      s"""WITH $qCte,
          qk AS (SELECT t, key FROM read_parquet('$p/*.parquet') WHERE id = 0),
          cand AS (SELECT DISTINCT id AS vec_id FROM read_parquet('$p/*.parquet') JOIN qk USING (t, key))
          ${rerankSql("cand")}""")

    // the recall dashboard composes the five method oracles verbatim
    // (each as a nested-WITH subquery) against the exact brute-force
    // top-10 — the same union + semi-join + per-method count the Spark
    // query runs, so the report itself is hash-checkable too
    val exactSql =
      s"""SELECT vec_id FROM (
            SELECT vec_id, round(${cosSql("CAST(embedding AS DOUBLE[])", "qvec")}, 9) AS cos
            FROM embeddings,
              (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0)
            ORDER BY cos DESC, vec_id LIMIT 10) ex"""
    val report = for {
      i <- ivf; ip <- ivfpq; pp <- pq; l <- lsh; o <- opq
    } yield "d4_recall_report" ->
      s"""WITH u AS (
            SELECT 'ivf' AS method, vec_id FROM (${i._2}) t1 UNION ALL
            SELECT 'ivfpq' AS method, vec_id FROM (${ip._2}) t2 UNION ALL
            SELECT 'lsh' AS method, vec_id FROM (${l._2}) t3 UNION ALL
            SELECT 'opq' AS method, vec_id FROM (${o._2}) t4 UNION ALL
            SELECT 'pq' AS method, vec_id FROM (${pp._2}) t5)
          SELECT method, count(*) AS hits, CAST(10 AS BIGINT) AS k,
            round(count(*) / 10.0, 4) AS recall
          FROM u WHERE vec_id IN ($exactSql)
          GROUP BY method ORDER BY method"""

    // PCA whitening: d3_pca_whiten's inline fit is the IDENTICAL
    // deterministic call (same data, dim=64, no RNG) as the OPQ
    // artifact's stored `_model`, so the oracle projects with the stored
    // model — centered dot per component, whitened by √eigenvalue,
    // round-6 %.6f formatting, the query's exact output shape. Any drift
    // between the two fits would hash-fail loudly, never silently pass.
    val pca = pathOf("opq").map(p => "d3_pca_whiten" ->
      s"""WITH model AS (SELECT comp, eigenvalue, evec FROM read_parquet('$p/_model/*.parquet')),
          mn AS (SELECT evec AS mn FROM model WHERE comp = -1),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          cent AS (SELECT vec_id, list_transform(v, (x,i) -> x - mn[i]) AS cv FROM e, mn),
          proj AS (SELECT vec_id,
            list(printf('%.6f', round(list_dot_product(cent.cv, m.evec) / sqrt(m.eigenvalue), 6))
                 ORDER BY m.comp) AS ps
            FROM cent, model m WHERE m.comp >= 0 AND m.comp < 8 GROUP BY vec_id)
          SELECT vec_id, array_to_string(ps, ' ') AS proj FROM proj ORDER BY vec_id""")

    // SemDeDup k-means blocking: assignment against the MATERIALIZED IVF
    // centroids replays in SQL (argmax cosine, lowest-cid tie), exact
    // within-block threshold pairs, then connected components as a
    // RECURSIVE min-reachability fixpoint — cluster = min node id, the
    // same label Dedup.connectedComponents converges to.
    val kmeansCc = pathOf("float").map(idx => "d9_semantic_clusters_kmeans" ->
      s"""WITH RECURSIVE
          c AS (SELECT cid, cvec FROM read_parquet('$idx/_centroids/*.parquet')),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 10 = 0),
          sc AS (SELECT e.vec_id, e.v, c.cid, ${cosSql("e.v", "c.cvec")} AS sim FROM e CROSS JOIN c),
          asg AS (SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM sc)
            WHERE rn = 1),
          pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM asg a JOIN asg b
            ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE ${cosSql("a.v", "b.v")} >= 0.3),
          nodes AS (SELECT id_a AS node FROM pairs UNION SELECT id_b FROM pairs),
          und AS (SELECT id_a AS n1, id_b AS n2 FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
          reach(node, m) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT u.n2, reach.m FROM reach JOIN und u ON u.n1 = reach.node)
          SELECT node AS vec_id, min(m) AS cluster FROM reach GROUP BY node ORDER BY vec_id""")

    // Seeded label propagation over the MATERIALIZED edge artifact: 5
    // synchronous rounds unrolled as CTE layers — integer majority votes,
    // smallest-label ties, seeds pinned; no floating point anywhere.
    val labelProp = pathOf("neardupedges30").map { e =>
      val head =
        s"""sym AS MATERIALIZED (
              SELECT src, dst FROM (
                SELECT doc_a AS src, doc_b AS dst FROM read_parquet('$e/*.parquet')
                UNION
                SELECT doc_b, doc_a FROM read_parquet('$e/*.parquet'))
              WHERE src <> dst),
            seeds AS (SELECT doc_id AS node, source AS label FROM documents WHERE doc_id % 7 = 0),
            nodes AS (SELECT src AS node FROM sym UNION SELECT node FROM seeds),
            l0 AS (SELECT n.node, s.label, s.label IS NOT NULL AS is_seed
                   FROM nodes n LEFT JOIN seeds s USING (node))"""
      val rounds = (0 until 5).map { i =>
        s"""b$i AS MATERIALIZED (
              SELECT node, nbr_label FROM (
                SELECT sym.dst AS node, l.label AS nbr_label, count(*) AS votes,
                  row_number() OVER (PARTITION BY sym.dst ORDER BY count(*) DESC, l.label) AS rn
                FROM sym JOIN l$i l ON l.node = sym.src AND l.label IS NOT NULL
                GROUP BY sym.dst, l.label) WHERE rn = 1),
            l${i + 1} AS MATERIALIZED (
              SELECT l.node,
                CASE WHEN l.is_seed THEN l.label ELSE coalesce(b.nbr_label, l.label) END AS label,
                l.is_seed
              FROM l$i l LEFT JOIN b$i b USING (node))"""
      }
      "d9_label_prop" ->
        ((head +: rounds).mkString("WITH ", ", ", "") +
          "\nSELECT node AS doc_id, label FROM l5 ORDER BY doc_id")
    }

    // PageRank: 10 decimal-exact rounds unrolled (DECIMAL(38,18)
    // contribution sums — the same exactness that makes the Spark ranks
    // partitioning-independent makes them engine-portable), dangling mass
    // redistributed per round, round-6 output. MATERIALIZED keeps DuckDB
    // from inlining the round chain into an exponential plan.
    val pagerank = pathOf("neardupedges20").map { edg =>
      val head =
        s"""e AS MATERIALIZED (
              SELECT doc_a AS src, doc_b AS dst FROM read_parquet('$edg/*.parquet')
              UNION ALL
              SELECT doc_b, doc_a FROM read_parquet('$edg/*.parquet')),
            vertices AS MATERIALIZED (
              SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
            nn AS MATERIALIZED (SELECT count(*) AS n FROM vertices),
            outdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
            r0 AS MATERIALIZED (SELECT v, 1.0 AS rank FROM vertices)"""
      val rounds = (0 until 10).map { i =>
        s"""d$i AS MATERIALIZED (
              SELECT coalesce(sum(CAST(r.rank AS DECIMAL(38,18))), 0) AS m
              FROM r$i r LEFT JOIN outdeg o ON r.v = o.src WHERE o.deg IS NULL),
            c$i AS MATERIALIZED (
              SELECT e.dst AS v, sum(CAST(r.rank / o.deg AS DECIMAL(38,18))) AS csum
              FROM r$i r JOIN outdeg o ON r.v = o.src JOIN e ON e.src = r.v
              GROUP BY e.dst),
            r${i + 1} AS MATERIALIZED (
              SELECT vs.v,
                0.15 + 0.85 * (CAST(coalesce(c.csum, 0) AS DOUBLE)
                  + (SELECT CAST(m AS DOUBLE) FROM d$i) / (SELECT n FROM nn)) AS rank
              FROM vertices vs LEFT JOIN c$i c USING (v))"""
      }
      "d9_pagerank" ->
        ((head +: rounds).mkString("WITH ", ", ", "") +
          "\nSELECT v AS doc_id, round(rank, 6) AS rank FROM r10 ORDER BY doc_id")
    }

    // IVF drift monitor: assignment against the stored centroids plus
    // the `_stats` build-time baseline — both materialized, so the whole
    // dashboard (counts, round-6 mean/min cosine, drift vs baseline)
    // replays in SQL.
    val drift = pathOf("float").map(idx => "d4_ivf_drift" ->
      s"""WITH c AS (SELECT cid, cvec FROM read_parquet('$idx/_centroids/*.parquet')),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 4 = 3),
          sc AS (SELECT e.vec_id, e.v, c.cid, ${cosSql("e.v", "c.cvec")} AS sim FROM e CROSS JOIN c),
          asg AS (SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM sc)
            WHERE rn = 1),
          j AS (SELECT a.cid, ${cosSql("a.v", "c.cvec")} AS sim FROM asg a JOIN c ON a.cid = c.cid),
          g AS (SELECT cid, count(*) AS n_new, round(avg(sim), 6) AS mean_sim,
                  round(min(sim), 6) AS min_sim
                FROM j GROUP BY cid),
          base AS (SELECT cid, build_mean_sim FROM read_parquet('$idx/_stats/*.parquet'))
          SELECT g.cid, g.n_new, g.mean_sim, g.min_sim, b.build_mean_sim,
            round(b.build_mean_sim - g.mean_sim, 6) AS drift
          FROM g LEFT JOIN base b USING (cid) ORDER BY cid""")

    // The composed d0 corpus-prep DAGs: the near-dup stage's loser ids are
    // the ONE xxhash-determined input, materialized per session
    // (d0LosersFor family); every other stage — exact dedup (sha-256
    // keep-lowest), decontamination (verbatim 5-gram overlap), span dedup
    // (duplicate-window islands), rule/classifier/LM gates, enrichment —
    // replays in SQL from the documents table, each fragment lifted from
    // its already-hash-green standalone oracle (d1_exact_dedup,
    // d2_ngram_decontam, d2_span_dedup, d5_quality_score, d5_lm_score,
    // d5_langid, d5_fingerprint).
    val d0prep = pathOf("d0losers").map(p => "d0_corpus_prep" ->
      s"""WITH ex AS (
            SELECT doc_id, text FROM (
              SELECT doc_id, text,
                row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
              FROM documents) WHERE rn = 1),
          tk AS (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM ex
                 WHERE doc_id NOT IN (SELECT doc_id FROM read_parquet('$p/*.parquet'))),
          ${d0GateCtes(minTokens = 5, maxStop = "0.95")}
          SELECT doc_id, n_tok, pred_lang, fp FROM gated ORDER BY doc_id""")

    val d0incr = for { lo <- pathOf("d0incrlosers"); st <- pathOf("sigstore") } yield
      "d0_corpus_prep_incr" ->
        s"""WITH ex AS (
              SELECT doc_id, text, h FROM (
                SELECT doc_id, text, sha256(text) AS h,
                  row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
                FROM documents WHERE doc_id % 4 = 3) WHERE rn = 1),
            tk AS (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                   FROM ex
                   WHERE h NOT IN (SELECT content_hash FROM read_parquet('$st/*.parquet'))
                     AND doc_id NOT IN (SELECT doc_id FROM read_parquet('$lo/*.parquet'))),
            ${d0GateCtes(minTokens = 5, maxStop = "0.95")}
            SELECT doc_id, n_tok, pred_lang, fp FROM gated ORDER BY doc_id"""

    // Full production stack: exact dedup → near-dup losers (artifact) →
    // eval-decile 5-gram decontam → span dedup (k=5) → rule gates →
    // classifier gate (σ over the d5_quality_score features) → unigram-LM
    // gate (trained on doc_id % 4 != 3 of the WHOLE corpus, threshold one
    // micro-unit above the OOV floor) — stage order and every constant
    // exactly as the registered query configures CorpusPrep.
    val d0full = pathOf("d0fulllosers").map(p => "d0_corpus_prep_full" ->
      s"""WITH ex AS (
            SELECT doc_id, text FROM (
              SELECT doc_id, text,
                row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
              FROM documents WHERE doc_id % 10 <> 0) WHERE rn = 1),
          s0 AS (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM ex
                 WHERE doc_id NOT IN (SELECT doc_id FROM read_parquet('$p/*.parquet'))),
          evsh AS (SELECT DISTINCT unnest(sh) AS g FROM (
              SELECT list_distinct(list_transform(range(1, len(toks) - 3),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                     || toks[i+3] || ' ' || toks[i+4])) AS sh
              FROM (SELECT list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                    FROM documents WHERE doc_id % 10 = 0)
              WHERE len(toks) >= 5)),
          trsh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(range(1, len(toks) - 3),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                     || toks[i+3] || ' ' || toks[i+4]))) AS g
            FROM s0 WHERE len(toks) >= 5),
          contaminated AS (SELECT DISTINCT doc_id FROM trsh JOIN evsh USING (g)),
          s1 AS MATERIALIZED (SELECT doc_id, toks FROM s0
                WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
          wins AS (
            SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+4], ' ') AS g5
            FROM s1, unnest(range(1, len(toks) - 5 + 2)) AS r(i)
            WHERE len(toks) >= 5),
          ranked AS (
            SELECT doc_id, pos,
              row_number() OVER (PARTITION BY g5 ORDER BY doc_id, pos) AS rn,
              count(*) OVER (PARTITION BY g5) AS cnt
            FROM wins),
          flagged AS (SELECT doc_id, pos FROM ranked WHERE cnt > 1 AND rn > 1),
          isl AS (
            SELECT doc_id, pos,
              CASE WHEN pos <= COALESCE(max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -999999) + 5
                   THEN 0 ELSE 1 END AS brk
            FROM flagged),
          isl2 AS (SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isle FROM isl),
          iv AS (SELECT doc_id, min(pos) AS st, max(pos) + 4 AS en
                 FROM isl2 GROUP BY doc_id, isle),
          tokpos AS (
            SELECT doc_id, generate_subscripts(toks, 1) - 1 AS p, unnest(toks) AS tkn FROM s1),
          keptagg AS (
            SELECT doc_id, list(tkn ORDER BY p) AS ctoks FROM tokpos t
            WHERE NOT EXISTS (SELECT 1 FROM iv
              WHERE iv.doc_id = t.doc_id AND t.p BETWEEN iv.st AND iv.en)
            GROUP BY doc_id),
          tk AS (SELECT s1.doc_id, COALESCE(keptagg.ctoks, CAST([] AS VARCHAR[])) AS toks
                 FROM s1 LEFT JOIN keptagg USING (doc_id)),
          ${d0GateCtes(minTokens = 5, maxStop = "0.95")},
          feat AS (
            SELECT doc_id, toks, n_tok, stop_ratio, pred_lang, fp,
              least(n_tok / 100.0, 1.0) AS f1,
              stop_ratio AS f2,
              CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
                / CAST(nullif(len(toks), 0) AS DOUBLE) / 10.0 AS f3,
              CAST(len(list_distinct(toks)) AS DOUBLE)
                / CAST(nullif(len(toks), 0) AS DOUBLE) AS f4
            FROM gated),
          qgated AS MATERIALIZED (
            SELECT doc_id, toks, n_tok, pred_lang, fp,
              1.0 / (1.0 + exp(-(-2.0 + 1.2 * f1 - 1.5 * f2 + 0.8 * f3 + 2.0 * f4))) AS q
            FROM feat
            WHERE 1.0 / (1.0 + exp(-(-2.0 + 1.2 * f1 - 1.5 * f2 + 0.8 * f3 + 2.0 * f4))) >= 0.5),
          lmtoks AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
                       t -> length(t) > 0)) AS token
                     FROM documents WHERE doc_id % 4 <> 3),
          counts AS (SELECT token, count(*) AS c FROM lmtoks GROUP BY token),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v FROM counts),
          lm AS (SELECT token,
                   CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v + 1 AS DOUBLE)) * 1e6)
                     AS BIGINT) AS lp
                 FROM counts, tot),
          oov AS (SELECT CAST(round(ln(1.0 / CAST(n_total + v + 1 AS DOUBLE)) * 1e6) AS BIGINT)
                    AS lp FROM tot),
          doctok AS (SELECT doc_id, unnest(toks) AS token FROM qgated),
          lsum AS (SELECT d.doc_id,
                     CAST(coalesce(sum(coalesce(lm.lp, oov.lp)), 0) AS BIGINT) AS lp_sum
                   FROM doctok d LEFT JOIN lm USING (token) CROSS JOIN oov
                   GROUP BY d.doc_id)
          SELECT g.doc_id, g.n_tok, g.pred_lang, g.fp, round(g.q, 6) AS quality,
            CAST(trunc(CAST(l.lp_sum AS DOUBLE) / greatest(g.n_tok, 1)) AS BIGINT)
              AS mean_lp_micro
          FROM qgated g JOIN lsum l USING (doc_id) CROSS JOIN oov
          WHERE l.lp_sum >= (oov.lp + 1) * g.n_tok
          ORDER BY g.doc_id""")

    // Procrustes mapping panel: the stored model already carries both the
    // raw and micro-rounded weights (rounding applied Scala-side, so no
    // cross-engine float-rounding seam); the oracle is the query's exact
    // post-processing — threshold on the RAW magnitude, emit the rounded.
    val procrustes = pathOf("procrustes").map(p => "d3_procrustes_align" ->
      s"""SELECT from_dim, to_dim, w FROM read_parquet('$p/*.parquet')
          WHERE abs(w_raw) > 0.5 ORDER BY from_dim, to_dim""")

    // The xxhash-family detectors: each artifact is ONLY the hash half
    // (band buckets, sketches, signatures); the collision joins, exact
    // verification (token-set Jaccard / XOR-popcount Hamming / fold
    // cosine), thresholds, and fixpoints all replay in SQL — the same
    // split the d4 LSH probe uses.
    val tokSetCte =
      """ts AS (SELECT doc_id,
           list_distinct(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS s
         FROM documents)"""
    def neardupOracle(p: String, tau: Double): String =
      s"""WITH b AS (SELECT doc_id, band, bucket FROM read_parquet('$p/*.parquet')),
          cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
                   FROM b l JOIN b r
                   ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
          $tokSetCte,
          v AS (SELECT doc_a, doc_b,
                  CAST(len(list_intersect(a.s, bb.s)) AS DOUBLE)
                    / (CAST(len(a.s) AS DOUBLE) + CAST(len(bb.s) AS DOUBLE)
                       - CAST(len(list_intersect(a.s, bb.s)) AS DOUBLE)) AS j
                FROM cand JOIN ts a ON cand.doc_a = a.doc_id
                          JOIN ts bb ON cand.doc_b = bb.doc_id)
          SELECT doc_a, doc_b, round(j, 9) AS jaccard FROM v
          WHERE j >= $tau ORDER BY doc_a, doc_b"""
    val d2mh = pathOf("d2mh").map(p =>
      "d2_neardup_minhash" -> neardupOracle(p, neardupParams.jaccardThreshold))
    val d2oph = pathOf("d2oph").map(p =>
      "d2_neardup_oph" -> neardupOracle(p, neardupOphParams.jaccardThreshold))

    val d2sh = pathOf("d2sh").map(p => "d2_simhash" ->
      s"""WITH h AS (SELECT id, sh, blk FROM read_parquet('$p/*.parquet'))
          SELECT l.id AS doc_a, r.id AS doc_b,
            CAST(bit_count(xor(l.sh, r.sh)) AS BIGINT) AS hamming
          FROM h l JOIN h r ON l.blk = r.blk AND l.id < r.id
          WHERE bit_count(xor(l.sh, r.sh)) <= $simhashMaxHamming
          ORDER BY doc_a, doc_b""")

    val d2fd = pathOf("d2fd").map(p => "d2_fuzzy_decontam" ->
      s"""WITH tb AS (SELECT doc_id AS train_id, band, bucket FROM read_parquet('$p/*.parquet')),
          eb AS (SELECT doc_id AS eval_id, band, bucket FROM read_parquet('$p/_eval/*.parquet')),
          cand AS (SELECT DISTINCT train_id, eval_id FROM tb JOIN eb USING (band, bucket)),
          $tokSetCte,
          v AS (SELECT train_id, eval_id,
                  CAST(len(list_intersect(a.s, bb.s)) AS DOUBLE)
                    / (CAST(len(a.s) AS DOUBLE) + CAST(len(bb.s) AS DOUBLE)
                       - CAST(len(list_intersect(a.s, bb.s)) AS DOUBLE)) AS j
                FROM cand JOIN ts a ON cand.train_id = a.doc_id
                          JOIN ts bb ON cand.eval_id = bb.doc_id),
          best AS (SELECT train_id, eval_id, j,
                     row_number() OVER (PARTITION BY train_id ORDER BY j DESC, eval_id) AS rn
                   FROM v WHERE j >= ${fuzzyDecontamParams.jaccardThreshold})
          SELECT train_id, eval_id, round(j, 9) AS jaccard FROM best
          WHERE rn = 1 ORDER BY train_id""")

    val d2so = pathOf("d2so").map(p => "d2_source_overlap" ->
      s"""WITH sg AS (SELECT source, sig FROM read_parquet('$p/*.parquet')),
          slots AS (SELECT source, generate_subscripts(sig, 1) AS slot, unnest(sig) AS v FROM sg),
          sk AS (SELECT source, slot, min(v) AS mv FROM slots GROUP BY source, slot)
          SELECT a.source AS src_a, b.source AS src_b,
            round(CAST(sum(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END) AS DOUBLE)
                  / $sourceOverlapHashes.0, 9) AS est_overlap
          FROM sk a JOIN sk b ON a.slot = b.slot AND a.source < b.source
          GROUP BY a.source, b.source ORDER BY src_a, src_b""")

    val d9lsh = pathOf("d9lsh").map(p => "d9_semantic_clusters_lsh" ->
      s"""WITH RECURSIVE bk AS (SELECT id, t, key FROM read_parquet('$p/*.parquet')),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                WHERE vec_id % 10 = 0),
          cand AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b FROM bk l JOIN bk r
                   ON l.t = r.t AND l.key = r.key AND l.id < r.id),
          pairs AS (SELECT id_a, id_b FROM cand
                    JOIN e a ON cand.id_a = a.vec_id JOIN e b ON cand.id_b = b.vec_id
                    WHERE ${cosSql("a.v", "b.v")} >= $semLshThreshold),
          nodes AS (SELECT id_a AS node FROM pairs UNION SELECT id_b FROM pairs),
          und AS (SELECT id_a AS n1, id_b AS n2 FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
          reach(node, m) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT u.n2, reach.m FROM reach JOIN und u ON u.n1 = reach.node)
          SELECT node AS vec_id, min(m) AS cluster FROM reach GROUP BY node ORDER BY vec_id""")

    // 2-core peeling over the materialized edge artifact, UNROLLED: each
    // layer drops edges touching a node of degree < 2 and recomputes
    // degrees; 40 layers ≫ the fixture's convergence depth, and an
    // unconverged unroll hash-FAILS loudly (never silently passes). Same
    // unrolled-fixpoint discipline as the pagerank/label-prop oracles.
    val kcore = pathOf("neardupedges30").map { e =>
      val head =
        s"""e0 AS MATERIALIZED (
              SELECT DISTINCT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v
              FROM read_parquet('$e/*.parquet')
              WHERE doc_a <> doc_b AND doc_a IS NOT NULL AND doc_b IS NOT NULL)"""
      val rounds = (0 until 40).map { i =>
        s"""b$i AS MATERIALIZED (
              SELECT n FROM (SELECT n, count(*) AS deg FROM (
                SELECT u AS n FROM e$i UNION ALL SELECT v FROM e$i) GROUP BY n)
              WHERE deg < 2),
            e${i + 1} AS MATERIALIZED (
              SELECT u, v FROM e$i
              WHERE u NOT IN (SELECT n FROM b$i) AND v NOT IN (SELECT n FROM b$i))"""
      }
      "d9_kcore" -> ((head +: rounds).mkString("WITH ", ", ", "") +
        """
        SELECT n AS doc_id, CAST(count(*) AS BIGINT) AS core_deg FROM (
          SELECT u AS n FROM e40 UNION ALL SELECT v FROM e40) GROUP BY n ORDER BY doc_id""")
    }

    // Bloom audit: the per-key probe verdicts are the artifact; the
    // classification join against the corpus key set and every count /
    // the fp rate replay in SQL.
    val bloom = pathOf("d1bloom").map(p => "d1_bloom_audit" ->
      s"""WITH f AS (SELECT k, maybe FROM read_parquet('$p/*.parquet')),
          ck AS (SELECT DISTINCT text AS ck FROM documents WHERE doc_id % 2 = 0),
          j AS (SELECT f.maybe, ck.ck IS NOT NULL AS dup
                FROM f LEFT JOIN ck ON f.k = ck.ck)
          SELECT CAST(count(*) AS BIGINT) AS shard_total,
            CAST(sum(CASE WHEN NOT maybe THEN 1 ELSE 0 END) AS BIGINT) AS definite_new,
            CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS candidates,
            CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS exact_dups,
            CAST(sum(CASE WHEN maybe AND NOT dup THEN 1 ELSE 0 END) AS BIGINT)
              AS false_positives,
            round(CAST(sum(CASE WHEN maybe AND NOT dup THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(sum(CASE WHEN NOT dup THEN 1 ELSE 0 END) AS DOUBLE), 6) AS fp_rate
          FROM j""")

    (ivf ++ ivfF ++ ivfQ ++ pq ++ ivfpq ++ opq ++ lsh ++ report ++
      pca ++ kmeansCc ++ labelProp ++ pagerank ++ drift ++
      d0prep ++ d0incr ++ d0full ++ procrustes ++
      d2mh ++ d2oph ++ d2sh ++ d2fd ++ d2so ++ d9lsh ++ kcore ++ bloom).toMap
  }

  /** Shared tail of the d0 oracles — rule gates + enrichment over a CTE
    * `tk(doc_id, toks)` holding each surviving doc's token array: n_tok,
    * stopword ratio (null-guarded like TextOps.stopwordRatio, so empty
    * docs fail closed in both engines), the langIdSql argmax, the
    * d5_fingerprint rolling hash, then the minTokens/maxStopwordRatio
    * filters. Emits CTEs `l0..l2, enr, gated`. */
  private def d0GateCtes(minTokens: Int, maxStop: String): String = {
    val langs = TextOps.stopwordProfiles.toSeq.sortBy(_._1)
    val scoreCols = langs
      .map { case (l, ws) =>
        s"len(list_intersect(dt, ${ws.map(w => s"'$w'").mkString("[", ", ", "]")})) AS s_$l"
      }
      .mkString(",\n             ")
    val sNames = langs.map(l => s"s_${l._1}").mkString(", ")
    val mx     = langs.map(l => s"s_${l._1}").mkString("greatest(", ", ", ")")
    val cases = langs.init
      .map { case (l, _) => s"WHEN s_$l = mx THEN '$l'" }
      .mkString("\n               ")
    s"""l0 AS (SELECT doc_id, toks, list_distinct(toks) AS dt FROM tk),
        l1 AS (SELECT doc_id, toks, $scoreCols FROM l0),
        l2 AS (SELECT doc_id, toks, $mx AS mx, $sNames FROM l1),
        enr AS (SELECT doc_id, toks,
            CAST(len(toks) AS BIGINT) AS n_tok,
            CAST(len(list_filter(toks, t -> list_contains($stopwordSqlList, t))) AS DOUBLE)
              / CAST(nullif(len(toks), 0) AS DOUBLE) AS stop_ratio,
            CASE WHEN mx = 0 THEN 'und'
               $cases
               ELSE '${langs.last._1}' END AS pred_lang,
            list_reduce(list_concat([CAST(0 AS BIGINT)],
                list_transform(toks, t -> CAST(length(t) * 31 + unicode(t) AS BIGINT))),
              (a, b) -> (a * 131 + b) % 1000000007) AS fp
          FROM l2),
        gated AS (SELECT * FROM enr WHERE n_tok >= $minTokens AND stop_ratio <= $maxStop)"""
  }

  private val staticSql: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT doc_id, content_hash FROM (
           SELECT doc_id, sha256(text) AS content_hash,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn = 1 ORDER BY doc_id""",
    "d1_bloom_dedup" ->
      """SELECT s.doc_id AS doc_id FROM documents s
         WHERE s.doc_id % 5 = 0 AND NOT EXISTS (
           SELECT 1 FROM documents c WHERE c.doc_id % 2 = 0 AND c.text = s.text)
         ORDER BY doc_id""",
    "d2_line_boilerplate" ->
      """WITH u AS (
           SELECT doc_id, t.u AS unit
           FROM documents, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS t(u)),
         f AS (SELECT unit, count(DISTINCT doc_id) AS unit_df FROM u GROUP BY unit),
         k AS (
           SELECT doc_id, count(*) AS kept_units, SUM(length(unit)) AS unit_chars
           FROM u JOIN f USING (unit) WHERE unit_df < 400 GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(COALESCE(k.kept_units, 0) AS BIGINT) AS kept_units,
           CAST(CASE WHEN k.kept_units IS NULL THEN 0
                     ELSE k.unit_chars + k.kept_units - 1 END AS BIGINT) AS kept_chars
         FROM documents d LEFT JOIN k USING (doc_id) ORDER BY doc_id""",
    "d2_ngram_jaccard" ->
      """WITH base AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents WHERE doc_id % 10 = 0)
           WHERE len(toks) >= 3)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
                    - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)), 9) AS jac
         FROM base a JOIN base b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.sh, b.sh)) >= 1
         ORDER BY jac DESC, doc_a, doc_b LIMIT 50""",
    "d2_editdist_join" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 40) AS s FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS ed
         FROM d a JOIN d b ON a.doc_id < b.doc_id
         WHERE abs(length(a.s) - length(b.s)) <= 4
           AND levenshtein(a.s, b.s) <= 4
         ORDER BY id_a, id_b""",
    "d2_contamination" ->
      """WITH base AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3)
         SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
           round(CAST(len(list_intersect(t.sh, e.sh)) AS DOUBLE)
                 / (CAST(len(t.sh) AS DOUBLE) + CAST(len(e.sh) AS DOUBLE)
                    - CAST(len(list_intersect(t.sh, e.sh)) AS DOUBLE)), 9) AS jac
         FROM base t JOIN base e ON t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
         WHERE CAST(len(list_intersect(t.sh, e.sh)) AS DOUBLE)
               / (CAST(len(t.sh) AS DOUBLE) + CAST(len(e.sh) AS DOUBLE)
                  - CAST(len(list_intersect(t.sh, e.sh)) AS DOUBLE)) >= 0.05
         ORDER BY train_id, eval_id""",
    "d2_span_dedup" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         wins AS (
           SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+4], ' ') AS g
           FROM toks, unnest(range(1, len(toks) - 5 + 2)) AS r(i)
           WHERE len(toks) >= 5),
         ranked AS (
           SELECT doc_id, pos,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY g) AS cnt
           FROM wins),
         flagged AS (SELECT doc_id, pos FROM ranked WHERE cnt > 1 AND rn > 1),
         isl AS (
           SELECT doc_id, pos,
             CASE WHEN pos <= COALESCE(max(pos) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -999999) + 5
                  THEN 0 ELSE 1 END AS brk
           FROM flagged),
         isl2 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isle FROM isl),
         iv AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e FROM isl2 GROUP BY doc_id, isle),
         tokpos AS (
           SELECT doc_id, generate_subscripts(toks, 1) - 1 AS p, unnest(toks) AS tk FROM toks),
         kept AS (
           SELECT t.doc_id, t.p, t.tk FROM tokpos t
           WHERE NOT EXISTS (SELECT 1 FROM iv WHERE iv.doc_id = t.doc_id AND t.p BETWEEN iv.s AND iv.e)),
         agg AS (
           SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS clean_text, count(*) AS n_kept
           FROM kept GROUP BY doc_id),
         n AS (SELECT doc_id, len(toks) AS n_toks FROM toks)
         SELECT n.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
           CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(n.n_toks - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed
         FROM n LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",
    "d2_neardup_clusters" ->
      """WITH RECURSIVE base AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM base a JOIN base b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
                    - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.3),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         cc(node, label) AS (
           SELECT DISTINCT s, s FROM edges
           UNION
           SELECT e.d, cc.label FROM cc JOIN edges e ON e.s = cc.node WHERE cc.label < e.d)
         SELECT node AS doc_id, min(label) AS cluster FROM cc
         GROUP BY node ORDER BY doc_id""",
    "d2_cluster_rep" ->
      """WITH RECURSIVE base AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM base a JOIN base b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
                    - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.3),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         cc(node, label) AS (
           SELECT DISTINCT s, s FROM edges
           UNION
           SELECT e.d, cc.label FROM cc JOIN edges e ON e.s = cc.node WHERE cc.label < e.d),
         clusters AS (
           SELECT node AS doc_id, min(label) AS cluster FROM cc GROUP BY node),
         ranked AS (
           SELECT c.cluster, c.doc_id,
             row_number() OVER (PARTITION BY c.cluster
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn
           FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
         SELECT cluster, max(doc_id) FILTER (rn = 1) AS rep_doc_id,
           count(*) AS cluster_size
         FROM ranked GROUP BY cluster ORDER BY cluster""",
    "d2_dup_histogram" ->
      """WITH RECURSIVE base AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM base a JOIN base b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
                    - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.3),
         edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         cc(node, label) AS (
           SELECT DISTINCT s, s FROM edges
           UNION
           SELECT e.d, cc.label FROM cc JOIN edges e ON e.s = cc.node WHERE cc.label < e.d),
         clusters AS (
           SELECT node AS doc_id, min(label) AS cluster FROM cc GROUP BY node),
         sizes AS (SELECT cluster, count(*) AS cluster_size FROM clusters GROUP BY cluster),
         hist AS (
           SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
             CAST(count(*) AS BIGINT) AS n_clusters
           FROM sizes GROUP BY cluster_size),
         tot AS (SELECT count(*) AS total FROM documents),
         cl AS (SELECT count(*) AS inclusters FROM clusters)
         SELECT cluster_size, n_clusters,
           CAST(cluster_size * n_clusters AS BIGINT) AS docs,
           CAST((cluster_size - 1) * n_clusters AS BIGINT) AS removable
         FROM hist
         UNION ALL
         SELECT CAST(1 AS BIGINT), CAST(total - inclusters AS BIGINT),
           CAST(total - inclusters AS BIGINT), CAST(0 AS BIGINT)
         FROM tot, cl
         ORDER BY cluster_size""",
    "d3_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) AS cos
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) a
         JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) b
           ON b.vec_id = a.vec_id + 1
         ORDER BY id_a""",
    "d3_cosine_quantized" ->
      """WITH q AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS s
           FROM embeddings),
         d AS (
           SELECT vec_id,
             list_transform(v, x -> greatest(-127.0, least(127.0, round(x / s, 0))) * s) AS vq
           FROM q)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.vq, b.vq)
                 / (sqrt(list_dot_product(a.vq, a.vq)) * sqrt(list_dot_product(b.vq, b.vq))), 9) AS cos_q
         FROM d a JOIN d b ON b.vec_id = a.vec_id + 1
         ORDER BY id_a""",
    // margin mining ≡ first-principles recompute: nano-quantized cosines
    // (exact long sums on any partitioning), mutual top-4, ratio margin
    "d4_margin_mining" ->
      """WITH s AS (
           SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE label = 0),
         t AS (
           SELECT vec_id AS tid, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE label = 1),
         sc AS (
           SELECT sid, tid,
             CAST(round(list_dot_product(s.v, t.v)
                   / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(t.v, t.v)))
                   * 1e9, 0) AS BIGINT) AS cmicro
           FROM s CROSS JOIN t),
         r AS (
           SELECT *,
             row_number() OVER (PARTITION BY sid ORDER BY cmicro DESC, tid) AS rf,
             row_number() OVER (PARTITION BY tid ORDER BY cmicro DESC, sid) AS rb
           FROM sc),
         fa AS (SELECT sid, sum(cmicro) AS fsum, count(*) AS fcnt
                FROM r WHERE rf <= 4 GROUP BY sid),
         ba AS (SELECT tid, sum(cmicro) AS bsum, count(*) AS bcnt
                FROM r WHERE rb <= 4 GROUP BY tid),
         m AS (
           SELECT r.sid, r.tid, r.cmicro / 1e9 AS cos,
                  CASE WHEN fa.fsum * ba.bcnt + ba.bsum * fa.fcnt <> 0
                       THEN round(2 * r.cmicro * fa.fcnt * ba.bcnt
                                  / (fa.fsum * ba.bcnt + ba.bsum * fa.fcnt), 9)
                  END AS margin
           FROM r JOIN fa USING (sid) JOIN ba USING (tid)
           WHERE r.rf <= 4 AND r.rb <= 4)
         SELECT sid, tid, cos, margin FROM m
         WHERE margin > 1.0
         ORDER BY sid, tid""",
    "d4_topk_batch" ->
      """WITH q AS (
           SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id IN (0, 7, 42)),
         s AS (
           SELECT q.qid, e.vec_id,
             round(list_dot_product(e.v, q.qvec)
                   / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qvec, q.qvec))), 9) AS cos
           FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e CROSS JOIN q),
         r AS (
           SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
           FROM s)
         SELECT qid, vec_id, cos, CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 5 ORDER BY qid, rank""",
    "d4_topk_filtered" ->
      """WITH q AS (
           SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id IN (0, 7, 42)),
         s AS (
           SELECT q.qid, e.vec_id,
             round(list_dot_product(e.v, q.qvec)
                   / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qvec, q.qvec))), 9) AS cos
           FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                 WHERE label = 3) e CROSS JOIN q),
         r AS (
           SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
           FROM s)
         SELECT qid, vec_id, cos, CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 5 ORDER BY qid, rank""",
    "d4_topk_bruteforce" ->
      """SELECT vec_id,
           round(list_dot_product(v, qvec)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec))), 9) AS cos
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0)
         ORDER BY cos DESC, vec_id LIMIT 10""",
    "d5_text_stats" ->
      s"""SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(toks)) AS BIGINT) AS uniq_tok,
         CAST(len(list_filter(toks, t -> list_contains($stopwordSqlList, t))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS stop_ratio,
         CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS mean_tok_len,
         CAST(ceil(length(regexp_replace(text, '\\s+', '', 'g')) / 4.0) AS BIGINT) AS bpe_est
         FROM (SELECT doc_id, text,
                 list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
               FROM documents)
         ORDER BY doc_id""",
    "d5_gopher_rules" ->
      """WITH base AS (
           SELECT doc_id, text,
             list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS t,
             string_split(text, chr(10)) AS lines
           FROM documents),
         sig AS (
           SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tok,
             round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                   / nullif(len(t), 0), 6) AS mean_word_len,
             round(CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                   / nullif(len(t), 0), 6) AS alpha_word_frac,
             round(CAST((len(string_split(text, '#')) - 1)
                        + (len(string_split(text, '...')) - 1) AS DOUBLE)
                   / nullif(len(t), 0), 6) AS symbol_ratio,
             round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
                   / nullif(len(lines), 0), 6) AS bullet_line_frac,
             round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE)
                   / nullif(len(lines), 0), 6) AS ellipsis_line_frac,
             CAST(len(list_intersect(list_distinct(t),
               ['the','a','of','and','to','in','is','it','that','for'])) AS BIGINT) AS stop_hits
           FROM base)
         SELECT doc_id, n_tok, mean_word_len, alpha_word_frac, symbol_ratio,
           bullet_line_frac, ellipsis_line_frac, stop_hits,
           coalesce(n_tok >= 50 AND n_tok <= 100000
             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND alpha_word_frac >= 0.8
             AND symbol_ratio <= 0.1
             AND bullet_line_frac <= 0.9
             AND ellipsis_line_frac <= 0.3
             AND stop_hits >= 2, false) AS keep
         FROM sig ORDER BY doc_id""",
    "d5_langid" -> langIdSql,
    "d5_quality_score" ->
      s"""WITH f AS (
           SELECT doc_id,
             least(len(toks) / 100.0, 1.0) AS f1,
             CAST(len(list_filter(toks, t -> list_contains($stopwordSqlList, t))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS f2,
             CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) / 10.0 AS f3,
             CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS f4
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)),
         sc AS (
           SELECT doc_id,
             1.0 / (1.0 + exp(-(-2.0 + 1.2 * f1 - 1.5 * f2 + 0.8 * f3 + 2.0 * f4))) AS q
           FROM f)
         SELECT doc_id, round(q, 6) AS quality,
           CAST(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM sc ORDER BY doc_id""",
    "d5_quality_hist" ->
      s"""WITH toks0 AS (
           SELECT doc_id, text,
             list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         f AS (
           SELECT doc_id,
             least(len(toks) / 100.0, 1.0) AS f1,
             CAST(len(list_filter(toks, t -> list_contains($stopwordSqlList, t))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS f2,
             CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) / 10.0 AS f3,
             CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS f4
           FROM toks0),
         sc AS (
           SELECT doc_id,
             1.0 / (1.0 + exp(-(-2.0 + 1.2 * f1 - 1.5 * f2 + 0.8 * f3 + 2.0 * f4))) AS q
           FROM f),
         sig AS (
           SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tok,
             round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                   / nullif(len(toks), 0), 6) AS mean_word_len,
             round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                   / nullif(len(toks), 0), 6) AS alpha_word_frac,
             round(CAST((len(string_split(text, '#')) - 1)
                        + (len(string_split(text, '...')) - 1) AS DOUBLE)
                   / nullif(len(toks), 0), 6) AS symbol_ratio,
             round(CAST(len(list_filter(string_split(text, chr(10)), l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
                   / nullif(len(string_split(text, chr(10))), 0), 6) AS bullet_line_frac,
             round(CAST(len(list_filter(string_split(text, chr(10)), l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE)
                   / nullif(len(string_split(text, chr(10))), 0), 6) AS ellipsis_line_frac,
             CAST(len(list_intersect(list_distinct(toks),
               ['the','a','of','and','to','in','is','it','that','for'])) AS BIGINT) AS stop_hits
           FROM toks0),
         k AS (
           SELECT doc_id,
             coalesce(n_tok >= 50 AND n_tok <= 100000
               AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
               AND alpha_word_frac >= 0.8
               AND symbol_ratio <= 0.1
               AND bullet_line_frac <= 0.9
               AND ellipsis_line_frac <= 0.3
               AND stop_hits >= 2, false) AS keep
           FROM sig),
         j AS (SELECT sc.doc_id, q, keep FROM sc JOIN k USING (doc_id))
         SELECT CAST(least(floor(q * 10), 9) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS gopher_keep_docs,
           round(CAST(sum(CAST(round(q * 1e6) AS BIGINT)) AS DOUBLE) / (count(*) * 1e6), 6) AS mean_q,
           round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS gopher_keep_rate
         FROM j GROUP BY bin ORDER BY bin""",
    "d0_compaction_plan" ->
      """WITH s AS (
           SELECT lang, source, CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(n_chars) AS BIGINT) AS bytes_est
           FROM documents GROUP BY lang, source),
         p AS (
           SELECT lang, source, docs, bytes_est,
             CAST(greatest(ceil(CAST(bytes_est AS DOUBLE) / 262144.0), 1.0) AS BIGINT) AS target_files
           FROM s)
         SELECT lang, source, docs, bytes_est, target_files,
           CAST(ceil(CAST(docs AS DOUBLE) / target_files) AS BIGINT) AS docs_per_file
         FROM p ORDER BY lang, source""",
    "d5_fingerprint" ->
      """SELECT doc_id,
           list_reduce(
             list_concat([CAST(0 AS BIGINT)],
               list_transform(toks, t -> CAST(length(t) * 31 + unicode(t) AS BIGINT))),
             (a, b) -> (a * 131 + b) % 1000000007) AS fp
         FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
               FROM documents)
         ORDER BY doc_id""",
    "d0_corpus_diff" ->
      """WITH b AS (
           SELECT doc_id, CASE WHEN doc_id % 23 = 5 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 17 <> 3
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text || ' new' AS text
           FROM documents WHERE doc_id % 29 = 7),
         ah AS (SELECT doc_id AS id, sha256(text) AS old_hash FROM documents),
         bh AS (SELECT doc_id AS id, sha256(text) AS new_hash FROM b),
         j AS (SELECT coalesce(ah.id, bh.id) AS doc_id, old_hash, new_hash
               FROM ah FULL OUTER JOIN bh ON ah.id = bh.id)
         SELECT doc_id,
           CASE WHEN old_hash IS NULL THEN 'added'
                WHEN new_hash IS NULL THEN 'removed'
                WHEN old_hash = new_hash THEN 'unchanged'
                ELSE 'changed' END AS status,
           old_hash, new_hash
         FROM j ORDER BY doc_id""",
    "d0_diff_reprocess" ->
      """WITH b AS (
           SELECT doc_id, CASE WHEN doc_id % 23 = 5 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 17 <> 3
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text || ' new' AS text
           FROM documents WHERE doc_id % 29 = 7),
         ah AS (SELECT doc_id AS id, sha256(text) AS old_hash FROM documents),
         bh AS (SELECT doc_id AS id, sha256(text) AS new_hash FROM b),
         delta AS (
           SELECT coalesce(ah.id, bh.id) AS doc_id,
             CASE WHEN old_hash IS NULL THEN 'added' ELSE 'changed' END AS status
           FROM ah FULL OUTER JOIN bh ON ah.id = bh.id
           WHERE new_hash IS NOT NULL AND (old_hash IS NULL OR old_hash <> new_hash)),
         d AS (
           SELECT b.doc_id, delta.status, b.text,
             list_filter(string_split(lower(b.text), ' '), t -> length(t) > 0) AS t,
             string_split(b.text, chr(10)) AS lines
           FROM b JOIN delta USING (doc_id)),
         sig AS (
           SELECT doc_id, status,
             CAST(len(t) AS BIGINT) AS n_tok,
             round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                   / nullif(len(t), 0), 6) AS mean_word_len,
             round(CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                   / nullif(len(t), 0), 6) AS alpha_word_frac,
             round(CAST((len(string_split(text, '#')) - 1)
                        + (len(string_split(text, '...')) - 1) AS DOUBLE)
                   / nullif(len(t), 0), 6) AS symbol_ratio,
             round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
                   / nullif(len(lines), 0), 6) AS bullet_line_frac,
             round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE)
                   / nullif(len(lines), 0), 6) AS ellipsis_line_frac,
             CAST(len(list_intersect(list_distinct(t),
               ['the','a','of','and','to','in','is','it','that','for'])) AS BIGINT) AS stop_hits
           FROM d)
         SELECT doc_id, status, n_tok,
           coalesce(n_tok >= 50 AND n_tok <= 100000
             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND alpha_word_frac >= 0.8
             AND symbol_ratio <= 0.1
             AND bullet_line_frac <= 0.9
             AND ellipsis_line_frac <= 0.3
             AND stop_hits >= 2, false) AS keep
         FROM sig ORDER BY doc_id""",
    "d0_corpus_report" ->
      """WITH base AS (
           SELECT doc_id, lang, source, text,
             list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS t,
             string_split(text, chr(10)) AS lines,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
           FROM documents),
         sig AS (
           SELECT lang, source, rn,
             CAST(len(t) AS BIGINT) AS n_tok,
             round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                   / nullif(len(t), 0), 6) AS mean_word_len,
             round(CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                   / nullif(len(t), 0), 6) AS alpha_word_frac,
             round(CAST((len(string_split(text, '#')) - 1)
                        + (len(string_split(text, '...')) - 1) AS DOUBLE)
                   / nullif(len(t), 0), 6) AS symbol_ratio,
             round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
                   / nullif(len(lines), 0), 6) AS bullet_line_frac,
             round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE)
                   / nullif(len(lines), 0), 6) AS ellipsis_line_frac,
             CAST(len(list_intersect(list_distinct(t),
               ['the','a','of','and','to','in','is','it','that','for'])) AS BIGINT) AS stop_hits
           FROM base),
         k AS (
           SELECT lang, source, rn, n_tok,
             coalesce(n_tok >= 50 AND n_tok <= 100000
               AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
               AND alpha_word_frac >= 0.8
               AND symbol_ratio <= 0.1
               AND bullet_line_frac <= 0.9
               AND ellipsis_line_frac <= 0.3
               AND stop_hits >= 2, false) AS keep
           FROM sig)
         SELECT lang, source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tok,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS keep_docs,
           round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_rate,
           round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS keep_rate
         FROM k GROUP BY lang, source ORDER BY lang, source""",
    "d5_lm_bigram" ->
      """WITH rt AS (
           SELECT list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents WHERE doc_id % 10 = 0),
         uni AS (
           SELECT u.tok AS w1, count(*) AS c1
           FROM rt, unnest(toks) AS u(tok) GROUP BY u.tok),
         vv AS (SELECT count(*) AS v FROM uni),
         bg AS (
           SELECT toks[CAST(i AS INTEGER)] AS w1, toks[CAST(i + 1 AS INTEGER)] AS w2, count(*) AS c2
           FROM rt, unnest(range(1, len(toks))) AS r(i) GROUP BY 1, 2),
         lp2 AS (
           SELECT w1, w2,
             CAST(round(ln((c2 + 1.0) / (c1 + v + 1.0)) * 1e6) AS BIGINT) AS lp_a
           FROM bg JOIN uni USING (w1) CROSS JOIN vv),
         lpf AS (
           SELECT w1,
             CAST(round(ln(1.0 / (c1 + v + 1.0)) * 1e6) AS BIGINT) AS lp_b
           FROM uni CROSS JOIN vv),
         lpg AS (SELECT CAST(round(ln(1.0 / (v + 1.0)) * 1e6) AS BIGINT) AS lp_c FROM vv),
         dt AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         db AS (
           SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1, toks[CAST(i + 1 AS INTEGER)] AS w2
           FROM dt, unnest(range(1, len(toks))) AS r(i)),
         sc AS (
           SELECT doc_id, coalesce(lp_a, lp_b, (SELECT lp_c FROM lpg)) AS lp
           FROM db LEFT JOIN lp2 USING (w1, w2) LEFT JOIN lpf USING (w1)),
         ag AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(lp) AS BIGINT) AS lp_total_micro
           FROM sc GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(lp_total_micro, 0) AS lp_total_micro,
           round(CAST(lp_total_micro AS DOUBLE) / nullif(n_bigrams, 0) / 1e6, 6) AS mean_lp
         FROM (SELECT doc_id FROM documents) d LEFT JOIN ag USING (doc_id)
         ORDER BY d.doc_id""",
    "d5_vocab_build" ->
      """WITH tok AS (
           SELECT u.tok AS tok FROM (
             SELECT list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
             FROM documents), unnest(toks) AS u(tok)),
         c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
         top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 200)
         SELECT CAST(row_number() OVER w AS BIGINT) AS vocab_id, tok, cnt,
           round(CAST(sum(cnt) OVER (w ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / (SELECT total FROM tot), 9) AS cum_share
         FROM top WINDOW w AS (ORDER BY cnt DESC, tok)
         ORDER BY vocab_id""",
    "d5_encode" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         c AS (
           SELECT u.tok AS tok, count(*) AS cnt
           FROM toks, unnest(toks) AS u(tok) GROUP BY u.tok),
         top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 100),
         v AS (SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS vocab_id, tok
               FROM top),
         px AS (
           SELECT doc_id, i - 1 AS pos, toks[CAST(i AS INTEGER)] AS tok
           FROM toks, unnest(range(1, len(toks) + 1)) AS r(i)),
         e AS (
           SELECT doc_id, pos, coalesce(v.vocab_id, 0) AS id,
             v.vocab_id IS NULL AS unk
           FROM px LEFT JOIN v USING (tok))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
           array_to_string(list(id ORDER BY pos), ' ') AS ids
         FROM e GROUP BY doc_id ORDER BY doc_id""",
    "d6_tfidf" ->
      """WITH tf AS (
           SELECT doc_id, tok, count(*) AS tf FROM (
             SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS tok
             FROM documents)
           GROUP BY doc_id, tok),
         dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, tf.tok AS tok, tf, df,
           round(CAST(tf AS DOUBLE) * (ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) + 1.0), 6) AS score
         FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n
         ORDER BY score DESC, doc_id, tok LIMIT 100""",
    "d6_mmr" -> mmrOracleSql,
    "d6_bm25" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         stats AS (SELECT count(*) AS n_docs, avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM toks),
         tf AS (
           SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, u.tok AS t, CAST(count(*) AS DOUBLE) AS tf
           FROM toks, unnest(toks) AS u(tok)
           WHERE u.tok IN ('scan', 'hash', 'dup')
           GROUP BY doc_id, dl, u.tok),
         dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         scored AS (
           SELECT doc_id,
             CAST(round(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e12) AS BIGINT) AS s_micro
           FROM tf JOIN dfreq USING (t) CROSS JOIN stats)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
           round(CAST(sum(s_micro) AS DOUBLE) / 1e12, 6) AS bm25
         FROM scored GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 20""",
    "d6_rrf_fusion" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         stats AS (SELECT count(*) AS n_docs, avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM toks),
         tf AS (
           SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, u.tok AS t, CAST(count(*) AS DOUBLE) AS tf
           FROM toks, unnest(toks) AS u(tok)
           WHERE u.tok IN ('scan', 'hash', 'dup')
           GROUP BY doc_id, dl, u.tok),
         dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         sc AS (
           SELECT doc_id,
             CAST(round(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e12) AS BIGINT) AS s_micro
           FROM tf JOIN dfreq USING (t) CROSS JOIN stats),
         bm AS (
           SELECT doc_id, round(CAST(sum(s_micro) AS DOUBLE) / 1e12, 6) AS bm25
           FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
         bmr AS (SELECT doc_id AS id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM bm),
         vec AS (
           SELECT vec_id,
             round(list_dot_product(v, qvec)
                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec))), 9) AS cos
           FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
           CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id = 0)
           ORDER BY cos DESC, vec_id LIMIT 20),
         vr AS (SELECT vec_id AS id, row_number() OVER (ORDER BY cos DESC, vec_id) AS r FROM vec),
         u AS (SELECT * FROM bmr UNION ALL SELECT * FROM vr)
         SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_lists,
           CAST(min(r) AS BIGINT) AS best_rank,
           round(CAST(sum(CAST(round(1e12 / (60 + r)) AS BIGINT)) AS DOUBLE) / 1e12, 6) AS rrf
         FROM u GROUP BY id ORDER BY rrf DESC, doc_id LIMIT 15""",
    "d7_slice_stats" ->
      """SELECT lang, source, count(*) AS docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_chars,
         CAST(SUM(len(list_filter(string_split(lower(text), ' '), t -> length(t) > 0))) AS BIGINT) AS total_toks,
         min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY lang, source ORDER BY lang, source""",
    "d5_repetition" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS t
           FROM documents),
         bg AS (
           SELECT doc_id, u.b AS bg
           FROM toks, unnest(
             CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) END) AS u(b)),
         c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
         p AS (
           SELECT doc_id,
             CAST(max(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_bigram_share,
             CAST(SUM(c) AS BIGINT) AS n_bigrams
           FROM c GROUP BY doc_id)
         SELECT toks.doc_id,
           round(CAST(len(list_distinct(t)) AS DOUBLE) / nullif(len(t), 0), 9) AS distinct_ratio,
           round(COALESCE(p.top_bigram_share, 0.0), 9) AS top_bigram_share,
           COALESCE(p.n_bigrams, 0) AS n_bigrams
         FROM toks LEFT JOIN p USING (doc_id) ORDER BY doc_id""",
    "d7_seq_packing" ->
      """WITH t AS (
           SELECT doc_id, source,
             CAST(len(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS BIGINT) AS n_tok,
             (doc_id % 1000000007) * 2654435761 % 4294967296 AS h
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t)
         SELECT source, CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
         FROM c GROUP BY 1, 2 ORDER BY source, pack_id""",
    "d7_packing_sweep" ->
      """WITH t AS (
           SELECT doc_id, source,
             CAST(len(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS BIGINT) AS n_tok,
             (doc_id % 1000000007) * 2654435761 % 4294967296 AS h
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t),
         cfg AS (SELECT unnest([128, 256, 512]) AS max_len),
         p AS (
           SELECT max_len, source,
             CAST(floor((cum - n_tok) / CAST(max_len AS DOUBLE)) AS BIGINT) AS pack_id,
             n_tok
           FROM c CROSS JOIN cfg),
         g AS (
           SELECT max_len, source, pack_id, CAST(sum(n_tok) AS BIGINT) AS fill
           FROM p GROUP BY 1, 2, 3)
         SELECT CAST(max_len AS BIGINT) AS max_len, CAST(count(*) AS BIGINT) AS packs,
           CAST(sum(fill) AS BIGINT) AS total_tok,
           round(CAST(sum(fill) AS DOUBLE) / count(*) / max_len, 6) AS utilization
         FROM g GROUP BY max_len ORDER BY max_len""",
    "d7_token_budget" ->
      """WITH t AS (
           SELECT doc_id, source,
             CAST(len(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS BIGINT) AS n_tok,
             (doc_id % 1000000007) * 2654435761 % 4294967296 AS h
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t)
         SELECT doc_id, source, n_tok FROM c WHERE cum - n_tok < 600 ORDER BY doc_id""",
    "d3_embedding_outliers" ->
      """WITH base AS (
           SELECT vec_id, label AS grp, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         px AS (
           SELECT grp, i - 1 AS pos, v[CAST(i AS INTEGER)] AS x
           FROM base, unnest(range(1, len(v) + 1)) AS r(i)),
         cq AS (
           SELECT grp, pos,
             CAST(sum(CAST(sign(x) * floor(abs(x) * 1e9) AS BIGINT)) AS DOUBLE)
               / (count(*) * 1e9) AS c
           FROM px GROUP BY grp, pos),
         cent AS (SELECT grp, list(c ORDER BY pos) AS centroid FROM cq GROUP BY grp),
         sc AS (
           SELECT vec_id, base.grp,
             round(list_dot_product(v, centroid)
                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centroid, centroid))), 9) AS cos
           FROM base JOIN cent USING (grp)),
         cm AS (SELECT vec_id, grp, cos, CAST(round(cos * 1e9) AS BIGINT) AS cmi FROM sc),
         st AS (SELECT grp, count(*) AS n, sum(cmi) AS s1, sum(cmi * cmi) AS s2 FROM cm GROUP BY grp),
         fin AS (
           SELECT grp,
             CAST(s1 AS DOUBLE) / (n * 1e9) AS mean,
             sqrt((CAST(s2 AS DOUBLE) / (n * 1e18)
                   - (CAST(s1 AS DOUBLE) / (n * 1e9)) * (CAST(s1 AS DOUBLE) / (n * 1e9)))
                  * n / nullif(n - 1, 0)) AS sd
           FROM st)
         SELECT vec_id AS id, cm.grp AS label, cos AS cos_c,
           round((cos - mean) / sd, 6) AS z,
           coalesce((cos - mean) / sd < -2.0, false) AS is_outlier
         FROM cm JOIN fin USING (grp) ORDER BY id""",
    "d3_slice_centroid" ->
      """SELECT vec_id % 8 AS bucket, CAST(i - 1 AS BIGINT) AS pos,
         CAST(SUM(CAST(sign(CAST(embedding[i] AS DOUBLE)) * floor(abs(CAST(embedding[i] AS DOUBLE)) * 1e9) AS BIGINT)) AS DOUBLE)
           / (COUNT(*) * 1e9) AS centroid
         FROM embeddings CROSS JOIN range(1, 65) r(i)
         GROUP BY 1, 2 ORDER BY bucket, pos""",
    "d3_label_affinity" ->
      """WITH comps AS (
           SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS pos,
             SUM(CAST(sign(CAST(embedding[i] AS DOUBLE))
                 * floor(abs(CAST(embedding[i] AS DOUBLE)) * 1e9) AS HUGEINT)) AS s
           FROM embeddings CROSS JOIN range(1, 65) r(i)
           GROUP BY 1, 2
         ), norms AS (
           SELECT label, SUM(s * s) AS norm2 FROM comps GROUP BY label
         ), dots AS (
           SELECT a.label AS la, b.label AS lb, SUM(a.s * b.s) AS dot
           FROM comps a JOIN comps b ON a.pos = b.pos AND a.label < b.label
           GROUP BY 1, 2
         )
         SELECT la, lb,
           round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))), 6) AS cosine
         FROM dots JOIN norms na ON dots.la = na.label JOIN norms nb ON dots.lb = nb.label
         ORDER BY la, lb""",
    "d3_mrl_truncation" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v[1:8], b.v[1:8])
                 / (sqrt(list_dot_product(a.v[1:8], a.v[1:8]))
                    * sqrt(list_dot_product(b.v[1:8], b.v[1:8]))), 9) AS cos8,
           round(list_dot_product(a.v[1:16], b.v[1:16])
                 / (sqrt(list_dot_product(a.v[1:16], a.v[1:16]))
                    * sqrt(list_dot_product(b.v[1:16], b.v[1:16]))), 9) AS cos16,
           round(list_dot_product(a.v[1:32], b.v[1:32])
                 / (sqrt(list_dot_product(a.v[1:32], a.v[1:32]))
                    * sqrt(list_dot_product(b.v[1:32], b.v[1:32]))), 9) AS cos32,
           round(list_dot_product(a.v[1:64], b.v[1:64])
                 / (sqrt(list_dot_product(a.v[1:64], a.v[1:64]))
                    * sqrt(list_dot_product(b.v[1:64], b.v[1:64]))), 9) AS cos64
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) a
         JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) b
           ON b.vec_id = a.vec_id + 1
         ORDER BY id_a""",
    "d7_hash_sample" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '2000'
         ORDER BY doc_id""",
    "d7_group_sample" ->
      """SELECT lang, doc_id, CAST(rn AS BIGINT) AS rk FROM (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         WHERE rn <= 20 ORDER BY lang, rk""",
    "d5_token_entropy" ->
      """WITH t AS (
           SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS tok
           FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
         w AS (SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM c),
         h AS (
           SELECT doc_id,
             CAST(-SUM(c * CAST(round(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6)
                               AS BIGINT)) AS BIGINT) AS h_micro,
             CAST(max(n) AS BIGINT) AS n_tok
           FROM w GROUP BY doc_id)
         SELECT d.doc_id,
           COALESCE(n_tok, 0) AS n_tok,
           COALESCE(h_micro, 0) AS h_micro,
           round(CAST(COALESCE(h_micro, 0) AS DOUBLE)
                 / CAST(GREATEST(COALESCE(n_tok, 0), 1) AS DOUBLE) / 1e6, 6) AS h_per_tok
         FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
         ORDER BY d.doc_id""",
    "d7_lang_divergence" ->
      """WITH tok AS (
           SELECT lang,
             unnest(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS tok
           FROM documents),
         counts AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2),
         totals AS (SELECT lang, sum(c) AS n FROM counts GROUP BY 1),
         dist AS (
           SELECT c.lang, c.tok, CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE) AS p
           FROM counts c JOIN totals t ON c.lang = t.lang),
         wide AS (
           SELECT tok,
             COALESCE(max(p) FILTER (lang = 'de'), 0.0) AS de,
             COALESCE(max(p) FILTER (lang = 'en'), 0.0) AS en,
             COALESCE(max(p) FILTER (lang = 'es'), 0.0) AS es,
             COALESCE(max(p) FILTER (lang = 'fr'), 0.0) AS fr,
             COALESCE(max(p) FILTER (lang = 'zh'), 0.0) AS zh
           FROM dist GROUP BY tok)
         SELECT * FROM (
           SELECT 'de' AS lang_a, 'en' AS lang_b,
             round(CAST(SUM(CAST(abs(de - en) / 2.0 AS DECIMAL(38,18))) AS DOUBLE), 9) AS tv,
             round(CAST(SUM(CAST(CASE WHEN de + en > 0.0
                    THEN (de - en) * (de - en) / (de + en) ELSE 0.0 END
                  AS DECIMAL(38,18))) AS DOUBLE), 9) AS chi2
           FROM wide
           UNION ALL
           SELECT 'de' AS lang_a, 'es' AS lang_b,
             round(CAST(SUM(CAST(abs(de - es) / 2.0 AS DECIMAL(38,18))) AS DOUBLE), 9) AS tv,
             round(CAST(SUM(CAST(CASE WHEN de + es > 0.0
                    THEN (de - es) * (de - es) / (de + es) ELSE 0.0 END
                  AS DECIMAL(38,18))) AS DOUBLE), 9) AS chi2
           FROM wide
           UNION ALL
           SELECT 'de' AS lang_a, 'fr' AS lang_b,
             round(CAST(SUM(CAST(abs(de - fr) / 2.0 AS DECIMAL(38,18))) AS DOUBLE), 9) AS tv,
             round(CAST(SUM(CAST(CASE WHEN de + fr > 0.0
                    THEN (de - fr) * (de - fr) / (de + fr) ELSE 0.0 END
                  AS DECIMAL(38,18))) AS DOUBLE), 9) AS chi2
           FROM wide
           UNION ALL
           SELECT 'de' AS lang_a, 'zh' AS lang_b,
             round(CAST(SUM(CAST(abs(de - zh) / 2.0 AS DECIMAL(38,18))) AS DOUBLE), 9) AS tv,
             round(CAST(SUM(CAST(CASE WHEN de + zh > 0.0
                    THEN (de - zh) * (de - zh) / (de + zh) ELSE 0.0 END
                  AS DECIMAL(38,18))) AS DOUBLE), 9) AS chi2
           FROM wide
           UNION ALL
           SELECT 'en' AS lang_a, 'es' AS lang_b,
             round(CAST(SUM(CAST(abs(en - es) / 2.0 AS DECIMAL(38,18))) AS DOUBLE), 9) AS tv,
             round(CAST(SUM(CAST(CASE WHEN en + es > 0.0
                    THEN (en - es) * (en - es) / (en + es) ELSE 0.0 END
                  AS DECIMAL(38,18))) AS DOUBLE), 9) AS chi2
           FROM wide
           UNION ALL
           SELECT 'en' AS lang_a, 'fr' AS lang_b,
             round(CAST(SUM(CAST(abs(en - fr) / 2.0 AS DECIMAL(38,18))) AS DOUBLE), 9) AS tv,
             round(CAST(SUM(CAST(CASE WHEN en + fr > 0.0
                    THEN (en - fr) * (en - fr) / (en + fr) ELSE 0.0 END
                  AS DECIMAL(38,18))) AS DOUBLE), 9) AS chi2
           FROM wide
           UNION ALL
           SELECT 'en' AS lang_a, 'zh' AS lang_b,
             round(CAST(SUM(CAST(abs(en - zh) / 2.0 AS DECIMAL(38,18))) AS DOUBLE), 9) AS tv,
             round(CAST(SUM(CAST(CASE WHEN en + zh > 0.0
                    THEN (en - zh) * (en - zh) / (en + zh) ELSE 0.0 END
                  AS DECIMAL(38,18))) AS DOUBLE), 9) AS chi2
           FROM wide
           UNION ALL
           SELECT 'es' AS lang_a, 'fr' AS lang_b,
             round(CAST(SUM(CAST(abs(es - fr) / 2.0 AS DECIMAL(38,18))) AS DOUBLE), 9) AS tv,
             round(CAST(SUM(CAST(CASE WHEN es + fr > 0.0
                    THEN (es - fr) * (es - fr) / (es + fr) ELSE 0.0 END
                  AS DECIMAL(38,18))) AS DOUBLE), 9) AS chi2
           FROM wide
           UNION ALL
           SELECT 'es' AS lang_a, 'zh' AS lang_b,
             round(CAST(SUM(CAST(abs(es - zh) / 2.0 AS DECIMAL(38,18))) AS DOUBLE), 9) AS tv,
             round(CAST(SUM(CAST(CASE WHEN es + zh > 0.0
                    THEN (es - zh) * (es - zh) / (es + zh) ELSE 0.0 END
                  AS DECIMAL(38,18))) AS DOUBLE), 9) AS chi2
           FROM wide
           UNION ALL
           SELECT 'fr' AS lang_a, 'zh' AS lang_b,
             round(CAST(SUM(CAST(abs(fr - zh) / 2.0 AS DECIMAL(38,18))) AS DOUBLE), 9) AS tv,
             round(CAST(SUM(CAST(CASE WHEN fr + zh > 0.0
                    THEN (fr - zh) * (fr - zh) / (fr + zh) ELSE 0.0 END
                  AS DECIMAL(38,18))) AS DOUBLE), 9) AS chi2
           FROM wide)
         ORDER BY lang_a, lang_b""",
    "d7_weighted_sample" ->
      """SELECT doc_id, lang, n_chars, round(key, 9) AS key FROM (
           SELECT doc_id, lang, n_chars,
             pow(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
                  / 4294967296.0), 1.0 / n_chars) AS key
           FROM documents WHERE n_chars > 0
           ORDER BY key DESC, doc_id LIMIT 100)
         ORDER BY key DESC, doc_id""",
    "d5_charset_qc" ->
      """SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_char,
         CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word,
         CAST(len(regexp_extract_all(text, ' ')) AS BIGINT) AS n_space,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
         CAST(len(regexp_extract_all(text, '[^\x20-\x7e]')) AS BIGINT) AS n_nonascii,
         CAST(length(text) - length(replace(text, chr(65533), '')) AS BIGINT) AS n_replacement,
         CAST(length(text) - length(replace(text, chr(195), '')) AS BIGINT) AS n_mojibake
         FROM documents ORDER BY doc_id""",
    "d5_pii_redaction" ->
      """WITH raw AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
               THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or call 555-01'
                    || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
               ELSE text END AS raw
           FROM documents)
         SELECT doc_id,
           regexp_replace(
             regexp_replace(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
             '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS clean,
           CAST(len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones
         FROM raw ORDER BY doc_id""",
    "d7_stratified_split" ->
      """SELECT doc_id, source,
           CASE WHEN pct < 80 THEN 'train' WHEN pct < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                 (((doc_id % 1000000007) * 2654435761 % 4294967296) * 100) // 4294967296 AS pct
               FROM documents)
         ORDER BY doc_id""",
    "d8_multimodal_meta" ->
      """SELECT doc_id, 'text/plain' AS mime,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         sha256(text) AS content_sha
         FROM documents WHERE n_chars > 200 ORDER BY doc_id""",
    "d8_payload_dedup" ->
      """SELECT doc_id, 'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS payload_sha
         FROM (
           SELECT doc_id, text,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn = 1 ORDER BY doc_id""",
    "d8_image_decode" ->
      """SELECT d.doc_id,
           CAST(16 AS BIGINT) AS width,
           CAST(16 AS BIGINT) AS height,
           CAST(SUM((d.doc_id * 31 + gx.x * 7 + gy.y * 13) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((d.doc_id * 17 + gx.x * 5 + gy.y * 29) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((d.doc_id * 23 + gx.x * 3 + gy.y * 11) % 256) AS BIGINT) AS sum_b
         FROM documents d
         CROSS JOIN generate_series(0, 15) AS gx(x)
         CROSS JOIN generate_series(0, 15) AS gy(y)
         GROUP BY d.doc_id
         ORDER BY d.doc_id""",
    "d8_audio_decode" ->
      """SELECT d.doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(256 AS BIGINT) AS n_samples,
           CAST(SUM(((d.doc_id * 31 + g.i * 7) % 65536) - 32768) AS BIGINT) AS sum_s,
           CAST(SUM(ABS(((d.doc_id * 31 + g.i * 7) % 65536) - 32768)) AS BIGINT) AS sum_abs
         FROM documents d
         CROSS JOIN generate_series(0, 255) AS g(i)
         GROUP BY d.doc_id
         ORDER BY d.doc_id""",
    "d8_video_frames" ->
      """SELECT d.doc_id,
           CAST(gf.f AS BIGINT) AS frame_idx,
           CAST(6 AS BIGINT) AS n_frames,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST(SUM((d.doc_id * 31 + gf.f * 19 + gx.x * 7 + gy.y * 13) % 256) AS BIGINT)
             AS sum_gray
         FROM documents d
         CROSS JOIN generate_series(0, 5) AS gf(f)
         CROSS JOIN generate_series(0, 7) AS gx(x)
         CROSS JOIN generate_series(0, 7) AS gy(y)
         WHERE gf.f % 2 = 0
         GROUP BY d.doc_id, gf.f
         ORDER BY d.doc_id, frame_idx""",
    // planted dims recomputed; javax.imageio writes baseline (SOF0)
    // 3-component YCbCr for RGB input
    "d8_jpeg_meta" ->
      """SELECT doc_id,
           CAST(16 + (doc_id * 7) % 120 AS BIGINT) AS width,
           CAST(16 + (doc_id * 11) % 90 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_components,
           FALSE AS progressive
         FROM documents ORDER BY doc_id""",
    "d8_video_meta" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'webm' END AS container,
           CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'webm' END AS brand,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 600 ELSE 1000000 END AS BIGINT) AS timescale,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN ((600 + (doc_id * 37) % 120000) * 1000) // 600
                ELSE (doc_id * 53) % 3600000 END AS BIGINT) AS duration_ms,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END
                ELSE CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END END AS BIGINT) AS n_tracks,
           CASE WHEN doc_id % 2 = 0
                THEN CASE WHEN doc_id % 4 = 0 THEN 'soun,vide' ELSE 'vide' END
                ELSE CASE WHEN doc_id % 3 = 0 THEN 'soun,vide' ELSE 'vide' END END AS handlers
         FROM documents ORDER BY doc_id""",
    "d8_audio_meta" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'flac'
                WHEN doc_id % 3 = 1 THEN 'mp3' ELSE 'wav' END AS format,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + (doc_id % 4) // 2
                     WHEN doc_id % 3 = 1 THEN 1
                     ELSE 1 + (doc_id % 6) // 3 END AS BIGINT) AS channels,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 16 END AS BIGINT) AS bits_per_sample,
           CAST(CASE WHEN doc_id % 3 = 0
                THEN ((44100 + (doc_id * 97) % 4410000) * 1000) // 44100
                WHEN doc_id % 3 = 1
                THEN ((10 + (doc_id * 13) % 990) * 1152 * 1000) // 44100
                ELSE ((22050 + (doc_id * 71) % 2205000) * 1000) // 22050
                END AS BIGINT) AS duration_ms,
           CAST(CASE WHEN doc_id % 3 = 1
                THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                     [CAST(doc_id % 14 AS INTEGER) + 1]
                ELSE 0 END AS BIGINT) AS bitrate_kbps
         FROM documents ORDER BY doc_id""",
    "d9_semantic_clusters" ->
      """WITH RECURSIVE pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) a
           JOIN (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3),
         edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         cc(node, label) AS (
           SELECT DISTINCT s, s FROM edges
           UNION
           SELECT e.d, cc.label FROM cc JOIN edges e ON e.s = cc.node WHERE cc.label < e.d)
         SELECT node AS vec_id, min(label) AS cluster FROM cc
         GROUP BY node ORDER BY vec_id""",
    "d9_simjoin_threshold" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) AS cos
         FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 10 = 0) a
         JOIN (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 10 = 0) b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.15
         ORDER BY id_a, id_b""",
    "d2_ngram_decontam" ->
      """WITH base AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3),
         ev AS (SELECT DISTINCT unnest(sh) AS s FROM base WHERE doc_id % 10 = 0),
         tr AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh, unnest(sh) AS s
                FROM base WHERE doc_id % 10 <> 0)
         SELECT tr.doc_id AS train_id, tr.n_sh, count(*) AS n_hits,
           round(CAST(count(*) AS DOUBLE) / CAST(tr.n_sh AS DOUBLE), 9) AS contaminated_frac
         FROM tr JOIN ev ON tr.s = ev.s
         GROUP BY tr.doc_id, tr.n_sh
         ORDER BY train_id""",
    "d5_lm_score" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS token
           FROM documents),
         counts AS (
           SELECT token, count(*) AS c FROM toks WHERE doc_id % 4 <> 3 GROUP BY token),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v FROM counts),
         lm AS (
           SELECT token,
             CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
           FROM counts, tot),
         oov AS (
           SELECT CAST(round(ln(1.0 / CAST(n_total + v + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS lp
           FROM tot)
         SELECT d.doc_id, count(t.token) AS n_toks,
           CAST(coalesce(sum(coalesce(lm.lp_micro, oov.lp)) FILTER (WHERE t.token IS NOT NULL), 0) AS BIGINT) AS lp_sum
         FROM documents d
         LEFT JOIN toks t ON d.doc_id = t.doc_id
         LEFT JOIN lm ON t.token = lm.token
         CROSS JOIN oov
         GROUP BY d.doc_id
         ORDER BY d.doc_id""",
    // FFD packing replayed EXACTLY: the sub-group key is portable modular
    // arithmetic (Mixture.shuffleKey/shuffleBucket — no xxhash anywhere),
    // and the loop-carried bin state folds through a recursive CTE that
    // advances every (slice, sub) group one item per level, carrying each
    // group's remaining-capacity list; first-fit picks the lowest index
    // whose residual fits, exactly the operator's ArrayBuffer loop.
    "d7_ffd_packing" ->
      """WITH RECURSIVE base AS (
           SELECT CAST(source AS VARCHAR) AS slice, doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS BIGINT) AS n_tok,
             ((doc_id % 1000000007) * 2654435761) % 4294967296 AS key
           FROM documents),
         items AS (
           SELECT slice, (key * 2) // 4294967296 AS sub, doc_id, n_tok,
             row_number() OVER (PARTITION BY slice, (key * 2) // 4294967296
                                ORDER BY n_tok DESC, doc_id) AS rn
           FROM base),
         grp AS (SELECT DISTINCT slice, sub FROM items),
         ffd(slice, sub, rn, bin, rem) AS (
           SELECT slice, sub, CAST(0 AS BIGINT), CAST(NULL AS BIGINT), CAST([] AS BIGINT[])
           FROM grp
           UNION ALL
           SELECT slice, sub, rn,
             CASE WHEN fit IS NULL THEN CAST(len(rem) AS BIGINT) ELSE fit - 1 END,
             CASE WHEN fit IS NULL THEN list_append(rem, greatest(512 - tok, 0))
                  ELSE list_transform(range(1, len(rem) + 1),
                         x -> CASE WHEN x = fit THEN rem[x] - tok ELSE rem[x] END)
             END
           FROM (
             SELECT f.slice, f.sub, i.rn, i.n_tok AS tok, f.rem,
               list_filter(range(1, len(f.rem) + 1), x -> f.rem[x] >= i.n_tok)[1] AS fit
             FROM ffd f JOIN items i
               ON i.slice = f.slice AND i.sub = f.sub AND i.rn = f.rn + 1) st),
         asg AS (
           SELECT i.slice, i.sub, i.doc_id, i.n_tok, f.bin
           FROM items i JOIN ffd f
             ON f.slice = i.slice AND f.sub = i.sub AND f.rn = i.rn)
         SELECT slice,
           slice || '/' || CAST(sub AS VARCHAR) || '/' || CAST(bin AS VARCHAR) AS pack_key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
           bool_or(n_tok > 512) AS has_oversize
         FROM asg GROUP BY slice, sub, bin
         ORDER BY slice, pack_key""",
    "d7_dsir_select" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS token
           FROM documents),
         tc AS (
           SELECT token, count(*) AS c FROM toks
           WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en') GROUP BY token),
         tt AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v FROM tc),
         tlm AS (
           SELECT token,
             CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS lp
           FROM tc, tt),
         toov AS (
           SELECT CAST(round(ln(1.0 / CAST(n_total + v + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS lp FROM tt),
         rc AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
         rt AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v FROM rc),
         rlm AS (
           SELECT token,
             CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS lp
           FROM rc, rt),
         roov AS (
           SELECT CAST(round(ln(1.0 / CAST(n_total + v + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS lp FROM rt),
         scored AS (
           SELECT d.doc_id, count(t.token) AS n_toks,
             CAST(coalesce(sum(coalesce(tlm.lp, toov.lp)) FILTER (WHERE t.token IS NOT NULL), 0) AS BIGINT) AS lp_target,
             CAST(coalesce(sum(coalesce(rlm.lp, roov.lp)) FILTER (WHERE t.token IS NOT NULL), 0) AS BIGINT) AS lp_raw
           FROM documents d
           LEFT JOIN toks t ON d.doc_id = t.doc_id
           LEFT JOIN tlm ON t.token = tlm.token
           LEFT JOIN rlm ON t.token = rlm.token
           CROSS JOIN toov CROSS JOIN roov
           GROUP BY d.doc_id)
         SELECT doc_id, n_toks, lp_target, lp_raw, lp_target - lp_raw AS w_micro
         FROM scored ORDER BY w_micro DESC, doc_id LIMIT 100""",
    "d7_chunking" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS toks
           FROM documents),
         c AS (
           SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
             unnest(range(0, CASE WHEN len(toks) <= 64 THEN 1
               ELSE CAST(ceil(CAST(len(toks) - 64 AS DOUBLE) / 48.0) AS BIGINT) + 1 END)) AS chunk_id
           FROM t)
         SELECT doc_id, chunk_id,
           array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text,
           least(CAST(64 AS BIGINT), n - chunk_id * 48) AS chunk_toks
         FROM c ORDER BY doc_id, chunk_id""",
    "d7_curriculum" ->
      s"""WITH f AS (
           SELECT doc_id,
             least(len(toks) / 100.0, 1.0) AS f1,
             CAST(len(list_filter(toks, t -> list_contains($stopwordSqlList, t))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS f2,
             CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) / 10.0 AS f3,
             CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS f4
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)),
         sc AS (
           SELECT doc_id,
             round(1.0 / (1.0 + exp(-(-2.0 + 1.2 * f1 - 1.5 * f2 + 0.8 * f3 + 2.0 * f4))), 6) AS quality
           FROM f),
         b AS (
           SELECT doc_id, quality,
             greatest(least(CAST(floor(quality * 4) AS BIGINT), 3), 0) AS q_bucket,
             ((doc_id + 42) % 1000000007) * 2654435761 % 4294967296 AS key
           FROM sc)
         SELECT doc_id, quality, q_bucket,
           CAST(row_number() OVER (PARTITION BY q_bucket ORDER BY key, doc_id) AS BIGINT) AS pos
         FROM b ORDER BY q_bucket, pos""",
    "d7_global_shuffle" ->
      """WITH k AS (
           SELECT doc_id, ((doc_id + 42) % 1000000007) * 2654435761 % 4294967296 AS key
           FROM documents)
         SELECT doc_id, (key * 8) // 4294967296 AS shard,
           CAST(row_number() OVER (PARTITION BY (key * 8) // 4294967296 ORDER BY key, doc_id) AS BIGINT) AS pos
         FROM k ORDER BY shard, pos""",
    "d7_shard_manifest" ->
      """WITH k AS (
           SELECT doc_id, n_chars, text,
             (((doc_id + 42) % 1000000007) * 2654435761 % 4294967296 * 8) // 4294967296 AS shard
           FROM documents),
         f AS (
           SELECT doc_id, n_chars, shard,
             list_reduce(
               list_concat([CAST(0 AS BIGINT)],
                 list_transform(
                   list_filter(string_split(lower(text), ' '), t -> length(t) > 0),
                   t -> CAST(length(t) * 31 + unicode(t) AS BIGINT))),
               (a, b) -> (a * 131 + b) % 1000000007) AS fp
           FROM k)
         SELECT shard, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_id, max(doc_id) AS max_id,
           bit_xor(fp) AS checksum
         FROM f GROUP BY shard ORDER BY shard""",
    "d7_chunk_pack" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS toks
           FROM documents),
         c AS (
           SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
             unnest(range(0, CASE WHEN len(toks) <= 64 THEN 1
               ELSE CAST(ceil(CAST(len(toks) - 64 AS DOUBLE) / 64.0) AS BIGINT) + 1 END)) AS chunk_id
           FROM t),
         ch AS (
           SELECT doc_id, chunk_id,
             least(CAST(64 AS BIGINT), n - chunk_id * 64) AS chunk_toks,
             doc_id * 1000 + chunk_id AS row_id, doc_id % 4 AS slice
           FROM c),
         k AS (SELECT *, (row_id % 1000000007) * 2654435761 % 4294967296 AS h FROM ch),
         p AS (
           SELECT doc_id, chunk_id, slice, chunk_toks,
             SUM(chunk_toks) OVER (PARTITION BY slice ORDER BY h, row_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM k)
         SELECT doc_id, chunk_id, slice,
           CAST(floor((cum - chunk_toks) / 256.0) AS BIGINT) AS pack_id, chunk_toks
         FROM p ORDER BY doc_id, chunk_id""",
    "d7_mixture_weights" ->
      """WITH c AS (
           SELECT source AS slice,
             CAST(sum(CAST(len(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS BIGINT)) AS BIGINT) AS slice_toks
           FROM documents GROUP BY source),
         t AS (SELECT CAST(sum(slice_toks) AS BIGINT) AS n FROM c),
         w AS (SELECT slice, slice_toks,
                 pow(CAST(slice_toks AS DOUBLE) / CAST(n AS DOUBLE), 0.5) AS w
               FROM c, t),
         s AS (SELECT sum(w) AS wsum FROM w)
         SELECT slice, slice_toks, round(w / wsum, 6) AS budget_frac,
           CAST(round(100000 * w / wsum) AS BIGINT) AS token_budget
         FROM w, s ORDER BY slice""",
    "d5_ccnet_buckets" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS token
           FROM documents),
         counts AS (
           SELECT token, count(*) AS c FROM toks WHERE doc_id % 4 <> 3 GROUP BY token),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v FROM counts),
         lm AS (
           SELECT token,
             CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
           FROM counts, tot),
         oov AS (
           SELECT CAST(round(ln(1.0 / CAST(n_total + v + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS lp
           FROM tot),
         scored AS (
           SELECT d.doc_id, d.lang, count(t.token) AS n_toks,
             CAST(coalesce(sum(coalesce(lm.lp_micro, oov.lp)) FILTER (WHERE t.token IS NOT NULL), 0) AS BIGINT) AS lp_sum
           FROM documents d
           LEFT JOIN toks t ON d.doc_id = t.doc_id
           LEFT JOIN lm ON t.token = lm.token
           CROSS JOIN oov
           GROUP BY d.doc_id, d.lang),
         b AS (
           SELECT lang, n_toks,
             CAST(lp_sum AS DOUBLE) / CAST(greatest(n_toks, 1) AS DOUBLE) AS mean_lp,
             CAST(ntile(3) OVER (
               PARTITION BY lang
               ORDER BY CAST(lp_sum AS DOUBLE) / CAST(greatest(n_toks, 1) AS DOUBLE) DESC, doc_id)
               AS BIGINT) AS bucket
           FROM scored)
         SELECT lang, bucket, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_toks) AS BIGINT) AS toks,
           round(max(mean_lp), 6) AS best_mean_lp,
           round(min(mean_lp), 6) AS worst_mean_lp
         FROM b GROUP BY lang, bucket ORDER BY lang, bucket""",
    "d7_epoch_plan" ->
      """WITH u AS (
           SELECT source AS slice,
             CAST(sum(CAST(len(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS BIGINT)) AS BIGINT) AS unique_toks
           FROM documents GROUP BY source),
         w AS (SELECT slice, unique_toks, pow(CAST(unique_toks AS DOUBLE), 0.5) AS w FROM u),
         s AS (SELECT sum(w) AS wsum FROM w),
         a AS (
           SELECT slice, unique_toks,
             CAST(round(50000.0 * w / wsum) AS BIGINT) AS alloc_toks
           FROM w, s),
         e AS (
           SELECT slice, unique_toks, alloc_toks,
             least(CAST(alloc_toks AS DOUBLE) / CAST(unique_toks AS DOUBLE), 4.0) AS ep
           FROM a)
         SELECT slice, unique_toks, alloc_toks, round(ep, 6) AS epochs,
           CAST(round(CAST(unique_toks AS DOUBLE) * (1.0 - pow(0.5, ep)) / 0.5) AS BIGINT) AS effective_toks
         FROM e ORDER BY slice""",
    "d6_ndcg" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         stats AS (SELECT count(*) AS n_docs, avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM toks),
         tf AS (
           SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, u.tok AS t, CAST(count(*) AS DOUBLE) AS tf
           FROM toks, unnest(toks) AS u(tok)
           WHERE u.tok IN ('scan', 'hash', 'dup')
           GROUP BY doc_id, dl, u.tok),
         dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         bdoc AS (
           SELECT doc_id,
             round(CAST(sum(CAST(round(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12, 6) AS bm25
           FROM tf JOIN dfreq USING (t) CROSS JOIN stats
           GROUP BY doc_id),
         rel AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS rel FROM tf GROUP BY doc_id),
         s2 AS (SELECT b.doc_id, b.bm25, r.rel FROM bdoc b JOIN rel r USING (doc_id)),
         ranked AS (
           SELECT rel, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS i
           FROM s2 ORDER BY bm25 DESC, doc_id LIMIT 20),
         ideal AS (
           SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS i
           FROM s2 ORDER BY rel DESC, doc_id LIMIT 20),
         ks AS (SELECT unnest([5, 10, 20]) AS k),
         d AS (
           SELECT k, sum(CAST(rel AS DOUBLE) / log2(CAST(i AS DOUBLE) + 1.0)) AS dcg
           FROM ranked, ks WHERE i <= k GROUP BY k),
         i2 AS (
           SELECT k, sum(CAST(rel AS DOUBLE) / log2(CAST(i AS DOUBLE) + 1.0)) AS idcg
           FROM ideal, ks WHERE i <= k GROUP BY k)
         SELECT CAST(k AS BIGINT) AS k, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
           round(dcg / idcg, 6) AS ndcg
         FROM d JOIN i2 USING (k) ORDER BY k""",
    "d6_pr_at_k" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         stats AS (SELECT count(*) AS n_docs, avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM toks),
         tf AS (
           SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, u.tok AS t, CAST(count(*) AS DOUBLE) AS tf
           FROM toks, unnest(toks) AS u(tok)
           WHERE u.tok IN ('scan', 'hash', 'dup')
           GROUP BY doc_id, dl, u.tok),
         dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         bdoc AS (
           SELECT doc_id,
             round(CAST(sum(CAST(round(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12, 6) AS bm25
           FROM tf JOIN dfreq USING (t) CROSS JOIN stats
           GROUP BY doc_id),
         rel AS (
           SELECT doc_id, CASE WHEN sum(tf) >= 2 THEN 1 ELSE 0 END AS is_rel
           FROM tf GROUP BY doc_id),
         ranked AS (
           SELECT r.is_rel, row_number() OVER (ORDER BY b.bm25 DESC, b.doc_id) AS i
           FROM bdoc b JOIN rel r USING (doc_id)
           ORDER BY b.bm25 DESC, b.doc_id LIMIT 20),
         tot AS (SELECT CAST(sum(is_rel) AS BIGINT) AS n_rel FROM rel),
         ks AS (SELECT unnest([5, 10, 20]) AS k)
         SELECT CAST(k AS BIGINT) AS k, CAST(sum(is_rel) AS BIGINT) AS hits,
           round(CAST(sum(is_rel) AS DOUBLE) / k, 6) AS p_at_k,
           round(CAST(sum(is_rel) AS DOUBLE) / n_rel, 6) AS r_at_k
         FROM ranked, ks, tot WHERE i <= k GROUP BY k, n_rel ORDER BY k""",
    "d3_dim_stats" ->
      """WITH q AS (
           SELECT CAST(i - 1 AS BIGINT) AS pos,
             CAST(sign(CAST(embedding[i] AS DOUBLE))
                 * floor(abs(CAST(embedding[i] AS DOUBLE)) * 1e9) AS BIGINT) AS xq
           FROM embeddings CROSS JOIN range(1, 65) r(i)),
         a AS (
           SELECT pos, CAST(count(*) AS BIGINT) AS n, CAST(sum(xq) AS BIGINT) AS s,
             sum(CAST(xq AS HUGEINT) * CAST(xq AS HUGEINT)) AS ss
           FROM q GROUP BY pos)
         SELECT pos, n,
           round(CAST(s AS DOUBLE) / (n * 1e9), 6) AS mean,
           round((CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 1e18, 6) AS variance
         FROM a ORDER BY pos""",
    "d5_zipf_fit" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS tok
           FROM documents),
         cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         top AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 200),
         ranked AS (
           SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, tok) AS DOUBLE)) AS x,
             ln(CAST(c AS DOUBLE)) AS y
           FROM top),
         m AS (
           SELECT CAST(count(*) AS DOUBLE) AS k, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
           FROM ranked)
         SELECT CAST(k AS BIGINT) AS n_fit,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS slope,
           round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6) AS intercept
         FROM m""",
    "d7_interleave" ->
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
         w AS (SELECT lang, sqrt(CAST(c AS DOUBLE)) AS w FROM c),
         p AS (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS p
           FROM documents),
         v AS (
           SELECT p.doc_id, p.lang, CAST(p.p AS DOUBLE) / w.w AS vt
           FROM p JOIN w ON p.lang = w.lang),
         r AS (
           SELECT CAST(row_number() OVER (ORDER BY vt, lang, doc_id) AS BIGINT) AS pos,
             doc_id, lang, round(vt, 6) AS vt
           FROM v)
         SELECT pos, doc_id, lang, vt FROM r ORDER BY pos LIMIT 500""",
    "d6_mrr" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         stats AS (SELECT count(*) AS n_docs, avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM toks),
         tf AS (
           SELECT u.tok AS t, doc_id, CAST(len(toks) AS DOUBLE) AS dl, CAST(count(*) AS DOUBLE) AS tf
           FROM toks, unnest(toks) AS u(tok)
           WHERE u.tok IN ('scan', 'hash', 'dup')
           GROUP BY u.tok, doc_id, dl),
         dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
         scored AS (
           SELECT t, doc_id, tf,
             CAST(round(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e12) AS BIGINT) AS s_micro
           FROM tf JOIN dfreq USING (t) CROSS JOIN stats),
         ranked AS (
           SELECT t, doc_id, tf,
             CAST(row_number() OVER (PARTITION BY t ORDER BY s_micro DESC, doc_id) AS BIGINT) AS rank
           FROM scored)
         SELECT t, CAST(count(*) AS BIGINT) AS n_rel, min(rank) AS first_rank,
           round(1.0 / CAST(min(rank) AS DOUBLE), 6) AS rr
         FROM ranked WHERE tf >= 2
         GROUP BY t ORDER BY t""",
    "d6_prf_expansion" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         stats AS (SELECT count(*) AS n_docs, avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM toks),
         tf1 AS (
           SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, u.tok AS t, CAST(count(*) AS DOUBLE) AS tf
           FROM toks, unnest(toks) AS u(tok)
           WHERE u.tok IN ('scan', 'hash', 'dup')
           GROUP BY doc_id, dl, u.tok),
         df1 AS (SELECT t, count(*) AS df FROM tf1 GROUP BY t),
         s1 AS (
           SELECT doc_id,
             CAST(round(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e12) AS BIGINT) AS s_micro
           FROM tf1 JOIN df1 USING (t) CROSS JOIN stats),
         fb AS (
           SELECT doc_id FROM (
             SELECT doc_id, round(CAST(sum(s_micro) AS DOUBLE) / 1e12, 6) AS bm25
             FROM s1 GROUP BY doc_id)
           ORDER BY bm25 DESC, doc_id LIMIT 10),
         cand AS (
           SELECT u.tok AS t, CAST(count(*) AS BIGINT) AS cnt
           FROM toks, unnest(toks) AS u(tok)
           WHERE doc_id IN (SELECT doc_id FROM fb)
             AND u.tok NOT IN ('scan', 'hash', 'dup')
           GROUP BY u.tok),
         dfc AS (
           SELECT t, CAST(count(*) AS BIGINT) AS df FROM (
             SELECT DISTINCT doc_id, u.tok AS t
             FROM toks, unnest(toks) AS u(tok)
             WHERE u.tok IN (SELECT t FROM cand))
           GROUP BY t),
         exp AS (
           SELECT t FROM (
             SELECT cand.t,
               cand.cnt * CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 1e6) AS BIGINT) AS w
             FROM cand JOIN dfc USING (t) CROSS JOIN stats)
           ORDER BY w DESC, t LIMIT 5),
         terms AS (
           SELECT t FROM exp
           UNION
           SELECT unnest(['scan', 'hash', 'dup']) AS t),
         tf2 AS (
           SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, u.tok AS t, CAST(count(*) AS DOUBLE) AS tf
           FROM toks, unnest(toks) AS u(tok)
           WHERE u.tok IN (SELECT t FROM terms)
           GROUP BY doc_id, dl, u.tok),
         df2 AS (SELECT t, count(*) AS df FROM tf2 GROUP BY t),
         s2 AS (
           SELECT doc_id,
             CAST(round(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e12) AS BIGINT) AS s_micro
           FROM tf2 JOIN df2 USING (t) CROSS JOIN stats)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
           round(CAST(sum(s_micro) AS DOUBLE) / 1e12, 6) AS bm25
         FROM s2 GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 15""",
    "d7_mlm_mask" ->
      """WITH toksrc AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         px AS (
           SELECT doc_id, i - 1 AS pos
           FROM toksrc, unnest(range(1, len(toks) + 1)) AS r(i)),
         m AS (
           SELECT doc_id, pos,
             substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 4) < '2666' AS msk
           FROM px),
         g AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             CAST(sum(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
             coalesce(string_agg(CASE WHEN msk THEN CAST(pos AS VARCHAR) END, ' ' ORDER BY pos), '')
               AS masked_pos
           FROM m GROUP BY doc_id)
         SELECT d.doc_id, coalesce(n_tok, 0) AS n_tok, coalesce(n_masked, 0) AS n_masked,
           round(coalesce(CAST(n_masked AS DOUBLE) / nullif(CAST(n_tok AS DOUBLE), 0.0), 0.0), 6)
             AS mask_rate,
           coalesce(masked_pos, '') AS masked_pos
         FROM documents d LEFT JOIN g USING (doc_id)
         ORDER BY d.doc_id""",
    "d5_readability" ->
      """WITH b AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS BIGINT)
               AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sents,
             CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT) AS n_syl
           FROM documents),
         f AS (
           SELECT doc_id, n_words, n_sents, n_syl,
             CASE WHEN n_words > 0
               THEN round(206.835 - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)
                          - 84.6 * CAST(n_syl AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
               ELSE 0.0 END AS flesch
           FROM b)
         SELECT doc_id, n_words, n_sents, n_syl, flesch,
           CASE WHEN flesch >= 60 THEN 'easy'
                WHEN flesch >= 30 THEN 'medium'
                ELSE 'hard' END AS band
         FROM f ORDER BY doc_id""",
    "d2_lsh_param_plan" ->
      """WITH cfg AS (
           SELECT * FROM (VALUES (64, 2), (32, 4), (16, 8), (8, 16)) AS c(bands, rows_per_band)),
         grid AS (
           SELECT bands, rows_per_band, CAST(j10 AS DOUBLE) / 10.0 AS jaccard
           FROM cfg, generate_series(1, 9) AS g(j10))
         SELECT bands, rows_per_band, jaccard,
           round(1.0 - pow(1.0 - pow(jaccard, CAST(rows_per_band AS DOUBLE)),
                           CAST(bands AS DOUBLE)), 6) AS p_candidate,
           round(pow(1.0 / CAST(bands AS DOUBLE), 1.0 / CAST(rows_per_band AS DOUBLE)), 6)
             AS threshold
         FROM grid ORDER BY bands, jaccard""",
    "d1_rendezvous_reshard" ->
      """WITH scored AS (
           SELECT doc_id,
             (list_max(list_transform(range(0, 8),
                s -> {'h': md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 's': s}))).s
               AS old_shard,
             (list_max(list_transform(range(0, 10),
                s -> {'h': md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 's': s}))).s
               AS new_shard
           FROM documents)
         SELECT doc_id, old_shard, new_shard, old_shard <> new_shard AS moved
         FROM scored ORDER BY doc_id""",
    "d0_sft_prep" ->
      """WITH t AS (
           SELECT user_id AS conv_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx,
             CAST(len(list_filter(string_split(lower(event_type || ' ' || props), ' '),
                                  x -> length(x) > 0)) + 4 AS BIGINT) AS n_tok
           FROM events),
         c AS (
           SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
             CAST(sum(n_tok) AS BIGINT) AS total_toks,
             CAST(sum(CASE WHEN turn_idx % 2 = 0 THEN n_tok ELSE 0 END) AS BIGINT) AS loss_toks
           FROM t GROUP BY conv_id),
         f AS (
           SELECT conv_id, n_turns, total_toks, loss_toks,
             round(CAST(loss_toks AS DOUBLE) / CAST(total_toks AS DOUBLE), 6) AS loss_frac,
             (conv_id % 1000000007) * 2654435761 % 4294967296 AS h
           FROM c
           WHERE n_turns >= 2
             AND round(CAST(loss_toks AS DOUBLE) / CAST(total_toks AS DOUBLE), 6) >= 0.3),
         p AS (
           SELECT conv_id, n_turns, total_toks, loss_toks, loss_frac,
             SUM(total_toks) OVER (ORDER BY h, conv_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM f)
         SELECT conv_id, n_turns, total_toks, loss_toks, loss_frac,
           CAST(floor((cum - total_toks) / 512.0) AS BIGINT) AS pack_id
         FROM p ORDER BY conv_id""",
    "d7_chat_pack" ->
      """WITH t AS (
           SELECT user_id AS conv_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx,
             CAST(len(list_filter(string_split(lower(event_type || ' ' || props), ' '),
                                  x -> length(x) > 0)) + 4 AS BIGINT) AS n_tok
           FROM events)
         SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(n_tok) AS BIGINT) AS total_toks,
           CAST(sum(CASE WHEN turn_idx % 2 = 0 THEN n_tok ELSE 0 END) AS BIGINT) AS loss_toks,
           round(CAST(sum(CASE WHEN turn_idx % 2 = 0 THEN n_tok ELSE 0 END) AS DOUBLE)
                 / CAST(sum(n_tok) AS DOUBLE), 6) AS loss_frac
         FROM t GROUP BY conv_id ORDER BY conv_id""",
    "d7_length_buckets" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS BIGINT) AS n_tok
           FROM documents),
         b AS (
           SELECT doc_id, n_tok,
             CASE WHEN n_tok <= 1 THEN 1
                  ELSE CAST(power(2, length(bin(n_tok - 1))) AS BIGINT) END AS bucket_len
           FROM d),
         g AS (
           SELECT bucket_len, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS real_toks
           FROM b GROUP BY bucket_len)
         SELECT bucket_len, n_docs, real_toks,
           n_docs * bucket_len AS padded_toks,
           round(1.0 - CAST(real_toks AS DOUBLE) / CAST(n_docs * bucket_len AS DOUBLE), 6) AS waste_frac,
           CAST(floor(16384 / bucket_len) AS BIGINT) AS batch_size,
           CAST(ceil(CAST(n_docs AS DOUBLE)
                     / CAST(CAST(floor(16384 / bucket_len) AS BIGINT) AS DOUBLE)) AS BIGINT) AS n_batches
         FROM g ORDER BY bucket_len""",
    "d6_hard_negatives" ->
      """WITH e AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (
           SELECT vec_id AS qid, label AS qlabel, v AS qvec FROM e WHERE vec_id IN (0, 7, 42)),
         s AS (
           SELECT qid, vec_id,
             round(list_dot_product(v, qvec)
                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec))), 9) AS cos
           FROM e CROSS JOIN q WHERE e.label <> q.qlabel),
         r AS (
           SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
           FROM s)
         SELECT qid, vec_id, cos, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""",
    "d5_tokenizer_fertility" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         c AS (
           SELECT u.tok AS tok, count(*) AS cnt
           FROM toks, unnest(toks) AS u(tok) GROUP BY u.tok),
         top AS (SELECT tok FROM c ORDER BY cnt DESC, tok LIMIT 100),
         px AS (SELECT doc_id, u.tok AS tok FROM toks, unnest(toks) AS u(tok)),
         j AS (
           SELECT px.doc_id, count(*) AS n_tok,
             sum(CASE WHEN top.tok IS NULL THEN 1 ELSE 0 END) AS n_unk
           FROM px LEFT JOIN top ON px.tok = top.tok GROUP BY px.doc_id),
         d AS (
           SELECT doc_id, lang,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS nc,
             CAST(strlen(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS nb
           FROM documents)
         SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(j.n_tok), 0) AS BIGINT) AS total_toks,
           CAST(coalesce(sum(d.nb), 0) AS BIGINT) AS total_bytes,
           round(CAST(sum(j.n_unk) AS DOUBLE) / CAST(sum(j.n_tok) AS DOUBLE), 6) AS oov_rate,
           round(CAST(sum(d.nc) AS DOUBLE) / CAST(sum(j.n_tok) AS DOUBLE), 6) AS chars_per_tok,
           round(CAST(sum(d.nb) AS DOUBLE) / CAST(sum(j.n_tok) AS DOUBLE), 6) AS bytes_per_tok
         FROM d LEFT JOIN j ON d.doc_id = j.doc_id
         GROUP BY d.lang ORDER BY d.lang""",
    "d5_k_anonymity" ->
      """SELECT lang, source, CAST(floor(n_chars / 100) * 100 AS BIGINT) AS chars_bucket,
           CAST(count(*) AS BIGINT) AS k,
           CASE WHEN count(*) >= 5 THEN 'release'
                WHEN count(*) >= 2 THEN 'generalize'
                ELSE 'suppress' END AS action
         FROM documents
         GROUP BY lang, source, CAST(floor(n_chars / 100) * 100 AS BIGINT)
         ORDER BY lang, source, chars_bucket""",
    "d2_memorization_risk" ->
      """WITH base AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 5
               THEN list_distinct(list_transform(range(0, len(toks) - 4),
                      i -> array_to_string(list_slice(toks, CAST(i + 1 AS INTEGER), CAST(i + 5 AS INTEGER)), ' ')))
               ELSE [] END AS sh
           FROM base),
         ex AS (SELECT doc_id, u.s AS s FROM sh, unnest(sh) AS u(s)),
         dup AS (SELECT s FROM ex GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
         per AS (
           SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_dup
           FROM ex JOIN dup ON ex.s = dup.s GROUP BY ex.doc_id)
         SELECT sh.doc_id, CAST(len(sh.sh) AS BIGINT) AS n_shingles,
           CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup,
           round(coalesce(CAST(per.n_dup AS DOUBLE) / nullif(CAST(len(sh.sh) AS DOUBLE), 0.0), 0.0), 6) AS dup_frac
         FROM sh LEFT JOIN per ON sh.doc_id = per.doc_id
         ORDER BY sh.doc_id""",
    "d9_triangle_count" ->
      """WITH base AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM base a JOIN base b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
                    - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.3),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM pairs e1
           JOIN pairs e2 ON e2.a = e1.b
           JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
         nodes AS (SELECT a AS n FROM pairs UNION SELECT b FROM pairs),
         cnt AS (
           SELECT n, count(*) AS c
           FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
           GROUP BY n)
         SELECT nodes.n AS doc_id, CAST(coalesce(cnt.c, 0) AS BIGINT) AS n_triangles
         FROM nodes LEFT JOIN cnt ON cnt.n = nodes.n
         ORDER BY doc_id""",
    "d5_collocations" ->
      """WITH tk AS (SELECT list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
                     FROM documents),
         bi AS (
           SELECT u.b.w1 AS w1, u.b.w2 AS w2, count(*) AS cab
           FROM (SELECT unnest(list_filter(
                   list_transform(tk, (x, i) -> {'w1': x, 'w2': tk[i + 1]}),
                   s -> s.w2 IS NOT NULL)) AS b
                 FROM tk) u
           GROUP BY 1, 2 HAVING count(*) >= 5),
         uni AS (
           SELECT u.w AS w, count(*) AS cw
           FROM (SELECT unnest(tk) AS w FROM tk) u GROUP BY 1),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n_tok
               FROM (SELECT unnest(tk) AS w FROM tk))
         SELECT bi.w1, bi.w2, CAST(bi.cab AS BIGINT) AS cab,
           round(ln((CAST(bi.cab AS DOUBLE) * n.n_tok)
                 / (CAST(u1.cw AS DOUBLE) * CAST(u2.cw AS DOUBLE))), 6) AS pmi
         FROM bi
         JOIN uni u1 ON u1.w = bi.w1
         JOIN uni u2 ON u2.w = bi.w2
         CROSS JOIN n
         ORDER BY pmi DESC, w1, w2 LIMIT 20""",
    "d6_snippet" ->
      """WITH base AS (SELECT doc_id,
                         list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
                       FROM documents),
         ex AS (SELECT doc_id, tk, u.p AS p,
                  CASE WHEN u.tok IN ('scan', 'hash', 'dup') THEN 1 ELSE 0 END AS hit
                FROM (SELECT doc_id, tk,
                        unnest(list_transform(tk, (x, i) -> {'p': i - 1, 'tok': x})) AS u
                      FROM base)),
         win AS (
           SELECT doc_id, tk, p,
             sum(hit) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS hits
           FROM ex),
         best AS (
           SELECT doc_id, tk, p AS start_pos, hits FROM (
             SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, p) AS rk
             FROM win)
           WHERE rk = 1 AND hits >= 1)
         SELECT doc_id, CAST(start_pos AS BIGINT) AS start_pos, CAST(hits AS BIGINT) AS hits,
           array_to_string(tk[start_pos + 1 : start_pos + 10], ' ') AS snippet
         FROM best ORDER BY doc_id""",
    "d3_quant_error" ->
      """WITH dv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (
           SELECT v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
           FROM dv),
         d AS (
           SELECT list_transform(v, x ->
             (x - greatest(-127.0, least(127.0, round(x / s, 0))) * s)
             * (x - greatest(-127.0, least(127.0, round(x / s, 0))) * s)) AS e2
           FROM q),
         ex AS (
           SELECT CAST(i - 1 AS BIGINT) AS pos, e2[i] AS e2
           FROM d CROSS JOIN range(1, 65) r(i))
         SELECT pos, CAST(count(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST(round(e2 * 1e12) AS BIGINT)) AS DOUBLE)
                 / (count(*) * 1e12), 9) AS mse,
           round(max(e2), 9) AS max_e2
         FROM ex GROUP BY pos ORDER BY pos""",
    "d6_ltr_features" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
           FROM documents),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                          avg(CAST(len(tk) AS DOUBLE)) AS avgdl FROM tk),
         tf AS (
           SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, u.tok AS t,
             CAST(count(*) AS DOUBLE) AS tf
           FROM tk, unnest(tk) AS u(tok)
           WHERE u.tok IN ('scan', 'hash', 'dup')
           GROUP BY doc_id, dl, u.tok),
         df AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t)
         SELECT tf.doc_id, tf.t,
           CAST(tf.tf AS BIGINT) AS tf,
           CAST(tf.dl AS BIGINT) AS dl,
           CAST(round(ln((n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_micro,
           round(
             (CAST(round(ln((n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) * 1e6) AS BIGINT) / 1e6)
               * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / avgdl)), 6) AS bm25_term
         FROM tf JOIN df USING (t) CROSS JOIN stats
         ORDER BY doc_id, t""",
    "d5_blocklist_filter" ->
      """WITH d AS (
           SELECT source,
             CASE WHEN len(list_intersect(
                    list_distinct(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)),
                    ['spark', 'merge', 'window'])) > 0 THEN 1 ELSE 0 END AS hit
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(hit) AS BIGINT) AS n_blocked,
           CAST(count(*) - sum(hit) AS BIGINT) AS n_kept,
           round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS blocked_frac
         FROM d GROUP BY source ORDER BY source""",
    "d3_silhouette" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, CAST(label AS BIGINT) AS lbl
                    FROM embeddings),
         comps AS (
           SELECT lbl AS clabel, CAST(i - 1 AS BIGINT) AS pos,
             SUM(CAST(sign(v[i]) * floor(abs(v[i]) * 1e9) AS BIGINT)) AS s, count(*) AS n
           FROM e CROSS JOIN range(1, 65) r(i) GROUP BY 1, 2),
         cvecs AS (
           SELECT clabel, list(CAST(s AS DOUBLE) / (n * 1e9) ORDER BY pos) AS cvec
           FROM comps GROUP BY clabel),
         dist AS (
           SELECT e.vec_id, e.lbl, cv.clabel,
             sqrt(list_sum(list_transform(range(1, 65),
               i -> (e.v[i] - cv.cvec[i]) * (e.v[i] - cv.cvec[i])))) AS d
           FROM e CROSS JOIN cvecs cv),
         ab AS (
           SELECT vec_id, lbl,
             min(CASE WHEN clabel = lbl THEN d END) AS a,
             min(CASE WHEN clabel <> lbl THEN d END) AS b
           FROM dist GROUP BY 1, 2)
         SELECT lbl AS label, CAST(count(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST(round((b - a) / greatest(a, b) * 1e9) AS BIGINT)) AS DOUBLE)
                 / (count(*) * 1e9), 6) AS mean_silhouette
         FROM ab GROUP BY lbl ORDER BY label""",
    "d3_knn_eval" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, CAST(label AS BIGINT) AS label
                    FROM embeddings),
         p AS (SELECT vec_id AS qid, v AS qvec, label AS qlabel FROM e WHERE vec_id % 10 = 0),
         scored AS (
           SELECT p.qid, e.vec_id, e.label AS nlabel,
             round(list_dot_product(e.v, p.qvec)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.qvec, p.qvec))), 9) AS cos
           FROM e CROSS JOIN p),
         top AS (
           SELECT qid, vec_id, nlabel FROM (
             SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
             FROM scored)
           WHERE rk <= 6 AND vec_id <> qid),
         votes AS (SELECT qid, nlabel, count(*) AS c FROM top GROUP BY 1, 2),
         pred AS (
           SELECT qid, nlabel AS pred FROM (
             SELECT *, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nlabel) AS r
             FROM votes)
           WHERE r = 1)
         SELECT p.qlabel AS label, CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN pred.pred = p.qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN pred.pred = p.qlabel THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS acc
         FROM pred JOIN p ON pred.qid = p.qid
         GROUP BY p.qlabel ORDER BY label""",
    "d7_split_leakage" ->
      """WITH base AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM base a JOIN base b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
                    - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.3),
         sp AS (
           SELECT doc_id,
             CASE WHEN pct < 80 THEN 'train' WHEN pct < 90 THEN 'val' ELSE 'test' END AS split
           FROM (SELECT doc_id,
                   (((doc_id % 1000000007) * 2654435761 % 4294967296) * 100) // 4294967296 AS pct
                 FROM documents)),
         m AS (
           SELECT least(sa.split, sb.split) AS split_lo,
                  greatest(sa.split, sb.split) AS split_hi
           FROM pairs
           JOIN sp sa ON sa.doc_id = pairs.doc_a
           JOIN sp sb ON sb.doc_id = pairs.doc_b)
         SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
           split_lo <> split_hi AS crossing
         FROM m GROUP BY split_lo, split_hi
         ORDER BY split_lo, split_hi""",
    "d2_threshold_sweep" ->
      """WITH base AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
                  - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) AS jac
           FROM base a JOIN base b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
                    - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.2),
         ex AS (
           SELECT t.thr, u.d
           FROM pairs CROSS JOIN (VALUES (0.2), (0.3), (0.5)) t(thr),
                unnest([doc_a, doc_b]) AS u(d)
           WHERE pairs.jac >= t.thr)
         SELECT thr, CAST(count(*) / 2 AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT d) AS BIGINT) AS n_docs
         FROM ex GROUP BY thr ORDER BY thr""",
    "d2_containment" ->
      """WITH base AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 9) AS cont_a,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 9) AS cont_b
         FROM base a JOIN base b ON a.doc_id < b.doc_id
         WHERE greatest(
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh),
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh)) >= 0.5
         ORDER BY doc_a, doc_b""",
    "d9_degree_hist" ->
      """WITH base AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
                 FROM documents)
           WHERE len(toks) >= 3),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM base a JOIN base b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
                    - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.3),
         deg AS (
           SELECT n, count(*) AS degree
           FROM (SELECT a AS n FROM pairs UNION ALL SELECT b FROM pairs)
           GROUP BY n)
         SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
         FROM deg GROUP BY degree ORDER BY degree""",
    "d1_cdc_dedup" ->
      """WITH d AS (SELECT doc_id,
                      list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
                    FROM documents),
         ex AS (SELECT doc_id, tk,
                  unnest(list_transform(tk, (x, i) -> {'p': i - 1, 'tok': x})) AS u
                FROM d),
         fl AS (SELECT doc_id, u.p AS p, u.tok AS tok,
                  CASE WHEN u.p >= 3
                         AND substr(md5(array_to_string(tk[u.p-2 : u.p+1], ' ')), 1, 1) = '0'
                       THEN 1 ELSE 0 END AS b
                FROM ex),
         ch AS (SELECT doc_id, p, tok,
                  coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
                FROM fl),
         chunks AS (
           SELECT doc_id, chunk_idx, count(*) AS n_tok,
             md5(string_agg(tok, ' ' ORDER BY p)) AS chunk_hash
           FROM ch GROUP BY 1, 2),
         occ AS (SELECT *, count(*) OVER (PARTITION BY chunk_hash) AS occ FROM chunks)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
           CAST(sum(n_tok) AS BIGINT) AS n_tok,
           CAST(sum(CASE WHEN occ >= 2 THEN n_tok ELSE 0 END) AS BIGINT) AS shared_tok,
           round(CAST(sum(CASE WHEN occ >= 2 THEN n_tok ELSE 0 END) AS DOUBLE) / sum(n_tok), 6) AS shared_frac
         FROM occ GROUP BY doc_id ORDER BY doc_id""",
    "d6_query_likelihood" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
           FROM documents),
         dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM toks),
         ex AS (SELECT doc_id, u.tok AS t FROM toks, unnest(tk) AS u(tok)),
         ntot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM ex),
         hits AS (SELECT doc_id, t FROM ex WHERE t IN ('scan', 'hash', 'dup')),
         cf AS (SELECT t, CAST(count(*) AS DOUBLE) AS cf FROM hits GROUP BY t),
         tf AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf FROM hits GROUP BY doc_id, t),
         scored AS (
           SELECT dl.doc_id,
             CAST(round(
               ln((coalesce(tf.tf, 0.0) + (300.0 * cf.cf) / ntot.n_total) / (dl.dl + 300.0))
                 * 1e12) AS BIGINT) AS s,
             CASE WHEN coalesce(tf.tf, 0.0) > 0.0 THEN 1 ELSE 0 END AS m
           FROM dl CROSS JOIN cf CROSS JOIN ntot
           LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.t = cf.t)
         SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_matched,
           round(CAST(sum(s) AS DOUBLE) / 1e12, 6) AS ql
         FROM scored GROUP BY doc_id
         ORDER BY ql DESC, doc_id LIMIT 20""",
    "d3_isotropy" ->
      """WITH dv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         u AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
               FROM dv),
         comps AS (
           SELECT CAST(i - 1 AS BIGINT) AS pos,
             SUM(CAST(sign(v[i]) * floor(abs(v[i]) * 1e9) AS BIGINT)) AS sd,
             SUM(CAST(CAST(sign(v[i]) * floor(abs(v[i]) * 1e9) AS BIGINT) AS HUGEINT)
                 * CAST(sign(v[i]) * floor(abs(v[i]) * 1e9) AS BIGINT)) AS self_d
           FROM u CROSS JOIN range(1, 65) r(i)
           GROUP BY 1),
         tot AS (SELECT SUM(CAST(sd AS HUGEINT) * sd) AS s2, SUM(self_d) AS self2 FROM comps),
         nn AS (SELECT count(*) AS n FROM embeddings)
         SELECT nn.n AS n,
           round(CAST(tot.s2 - tot.self2 AS DOUBLE)
                 / (CAST(nn.n AS DOUBLE) * CAST(nn.n - 1 AS DOUBLE) * 1e18), 9) AS mean_pair_cos,
           round(sqrt(CAST(tot.s2 AS DOUBLE)) / (CAST(nn.n AS DOUBLE) * 1e9), 9) AS centroid_norm
         FROM tot, nn""",
    "d5_msttr" ->
      """WITH d AS (SELECT doc_id,
                      list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
                    FROM documents),
         ex AS (SELECT doc_id,
                  unnest(list_transform(tk, (x, i) -> {'seg': (i - 1) // 25, 'tok': x})) AS u
                FROM d),
         segs AS (
           SELECT doc_id, u.seg AS seg, count(DISTINCT u.tok) AS types
           FROM ex GROUP BY 1, 2 HAVING count(*) = 25)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
           round(CAST(SUM(types) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 25), 9) AS msttr
         FROM segs GROUP BY doc_id ORDER BY doc_id"""
  )
}
