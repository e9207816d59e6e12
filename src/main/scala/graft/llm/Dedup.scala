package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionCache, Tables}

/** Deduplication operators over `documents` (north-star, SURVEY §7.5):
  * exact, n-gram Jaccard with blocking, MinHash-LSH, SimHash.
  *
  * Scale design notes:
  *  - Exact dedup is one hash-aggregate on a 16-byte fingerprint — the
  *    shuffle carries (md5, id), never the text.
  *  - Pairwise Jaccard is only ever run behind a *blocking key*
  *    (lang × source × length-bucket): the O(n²) explosion happens
  *    per-block, and block sizes stay bounded as the corpus grows
  *    because the key cardinality grows with it.
  *  - MinHash-LSH is the 100 TB path: signatures are fixed-width (16
  *    longs), band buckets shuffle (band, hash) pairs, and candidate
  *    verification touches only colliding pairs — no all-pairs stage
  *    anywhere in the plan.
  */
object Dedup {


  /** Exact duplicate groups by content hash (md5 of raw text).
    * One groupBy over a fingerprint — the canonical first dedup pass. */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy("fp")

  /** The materializing form: the corpus with duplicates dropped, keeping
    * the lowest doc_id per content hash (what a pretraining pipeline
    * actually emits). Window-dedup, not dropDuplicates, so the keeper
    * is deterministic. */
  def exactKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    Tables.documents(spark, sfDir)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Cross-source exact dedup with SOURCE PREFERENCE — corpus assembly
    * merges many feeds (curated > licensed > crawled), and the same
    * text routinely arrives from several; the keeper should come from
    * the most-preferred feed, not whichever id happens to be lowest.
    * Priority here is the source's numeric suffix (stand-in for a real
    * feed ranking), tie-broken by doc_id so the keeper is
    * deterministic. The window shuffle carries only (fp, prio, source,
    * doc_id) — never text. Rolled up per source: docs seen, kept, and
    * yielded to a better-ranked copy. */
  def sourcePreferenceOf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("prio"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"),
              substring(col("source"), 4, 10).cast("int").as("prio"))
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           count(when(col("__rn") === 1, lit(1))).as("n_kept"),
           count(when(col("__rn") =!= 1, lit(1))).as("n_lost"))
      .orderBy("source")
  }

  def sourcePreference(spark: SparkSession, sfDir: String): DataFrame =
    sourcePreferenceOf(Tables.documents(spark, sfDir))

  /** Incremental ingest dedup — the CONTINUOUS-corpus path: a new batch
    * is admitted only where its content hash misses both the existing
    * corpus's hash index and earlier docs of the same batch
    * (first-wins). This is the realistic production shape: the corpus
    * is never re-deduped wholesale; each delivery dedups against a
    * persisted skinny (fp) index and appends ([[writeFpIndex]] /
    * [[loadFpIndex]] / [[incrementalDedupAgainstIndex]] are that
    * persisted path; here the split is simulated in one frame).
    *
    * Scale shape: both sides of the probe carry (fp, ids) only — text
    * never shuffles; the left join hash-partitions on fp exactly like
    * the full-corpus pass. A batch row duplicated in BOTH places counts
    * as a corpus dup (the index predates the batch). */
  def incrementalDedupOf(docs: DataFrame, isNew: Column): DataFrame =
    exactAdmission(docs.filter(isNew),
                   docs.filter(!isNew).select(md5(col("text")).as("fp")))

  /** Probe a raw batch against a corpus fingerprint frame — the
    * admission core shared by the single-frame fixture split above and
    * the persisted-index path ([[incrementalDedupAgainstIndex]]). */
  private def exactAdmission(batchDocs: DataFrame,
                             corpusFps: DataFrame): DataFrame = {
    val corpus = corpusFps.select(col("fp")).distinct()
      .withColumn("__in_corpus", lit(1))
    val batch = batchDocs
      .select(col("doc_id"), col("lang"), md5(col("text")).as("fp"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    batch
      .withColumn("__rn", row_number().over(wb))
      .join(corpus, Seq("fp"), "left")
      .withColumn("__dupc", col("__in_corpus").isNotNull)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_batch"),
           count(when(!col("__dupc") && col("__rn") === 1, lit(1)))
             .as("n_admitted"),
           count(when(col("__dupc"), lit(1))).as("n_dup_corpus"),
           count(when(!col("__dupc") && col("__rn") > 1, lit(1)))
             .as("n_dup_batch"))
      .orderBy("lang")
  }

  // ——— persisted dedup indices (the production artifacts) ———
  //
  // A continuous corpus is never re-deduped wholesale: a SNAPSHOT JOB
  // materializes the skinny index once (exact: distinct content
  // fingerprints; near-dup: fixed-width MinHash signatures + shingle
  // hash sets), and every delivery then pays only its own batch-sized
  // build plus a probe join against the loaded artifact. Text is read
  // exactly once per snapshot, never by the probes. Both indices are
  // plain parquet — at scale, partitioned/bucketed on their join key so
  // the probe co-locates instead of shuffling the (large) index side.

  /** Materialize the exact-dedup fingerprint index for a corpus: one
    * row per distinct content hash. The analog of the reference's
    * insert-time dedup key set, persisted instead of in-memory. */
  def writeFpIndex(docs: DataFrame, dir: String): Unit =
    docs.select(md5(col("text")).as("fp")).distinct()
      .write.mode("overwrite").parquet(dir)

  def loadFpIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Admission report for a raw delivery against a loaded [[writeFpIndex]]
    * artifact — identical semantics to [[incrementalDedupOf]], corpus
    * side served from the persisted index instead of recomputed. */
  def incrementalDedupAgainstIndex(batchDocs: DataFrame,
                                   fpIndex: DataFrame): DataFrame =
    exactAdmission(batchDocs, fpIndex)

  /** Materialize the near-dup signature index for a corpus: one
    * fixed-width row (16 minhashes + the 64-bit shingle hash set) per
    * shingled document. Built through the same one-pass shingler the
    * session cache uses. */
  def writeNearDupIndex(docs: DataFrame, dir: String): Unit =
    signaturesOf(shingleIndexOf(docs))
      .write.mode("overwrite").parquet(dir)

  def loadNearDupIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Admission report for a raw delivery against a loaded
    * [[writeNearDupIndex]] artifact — identical semantics to
    * [[incrementalNearDupOver]], corpus side served from the persisted
    * signatures: the delivery job shingles and signs only its own
    * batch, then band-joins against index rows that never touch text. */
  def incrementalNearDupAgainstIndex(batchDocs: DataFrame,
                                     corpusSig: DataFrame,
                                     threshold: Double = 0.7): DataFrame = {
    val batchIdx = shingleIndexOf(batchDocs)
    nearDupAdmission(batchIdx, signaturesOf(batchIdx), corpusSig, threshold)
  }

  /** Driver entry: every tenth doc_id plays the newly-delivered batch,
    * the rest the standing corpus. */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame =
    incrementalDedupOf(Tables.documents(spark, sfDir),
                       col("doc_id") % 10 === 0)

  /** Per-(sfDir, artifact) scratch dir for the persisted-index probe
    * queries — stable across runs (the write is mode=overwrite) and
    * disjoint across scale factors so a bench at sf0.1 never probes an
    * sf0.01 snapshot. */
  private[llm] def indexScratch(sfDir: String, name: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${name}_${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}").getAbsolutePath

  /** Driver entry for the PERSISTED exact-dedup path (q136): snapshot
    * the standing corpus's fingerprint index to parquet
    * ([[writeFpIndex]]), then run the delivery probe against the LOADED
    * artifact — identical semantics (and oracle) to
    * [[incrementalDedup]], but the corpus side is served from the
    * skinny persisted index: the probe reads (fp) rows only, never
    * corpus text. This is the production claim made driver-checkable —
    * write + read-back + probe in one query, like q86's lake publish. */
  def fpIndexProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = indexScratch(sfDir, "fp_index")
    writeFpIndex(docs.filter(col("doc_id") % 10 =!= 0), dir)
    incrementalDedupAgainstIndex(docs.filter(col("doc_id") % 10 === 0),
                                 loadFpIndex(spark, dir))
  }

  /** Driver entry for the PERSISTED near-dup path (q137): snapshot the
    * corpus MinHash-signature + shingle-hash index
    * ([[writeNearDupIndex]]), then band-probe the delivery against the
    * LOADED artifact — [[incrementalNearDup]]'s semantics with the
    * corpus side served from the persisted signatures (text read only
    * for the delivery). Un-oracled (xxhash64 banding, SURVEY §5.3);
    * the planted-fixture spec pins probe ≡ session-index admission. */
  def nearDupIndexProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = indexScratch(sfDir, "neardup_index")
    writeNearDupIndex(docs.filter(col("doc_id") % 10 =!= 0), dir)
    incrementalNearDupAgainstIndex(docs.filter(col("doc_id") % 10 === 0),
                                   loadNearDupIndex(spark, dir))
  }

  /** Distinct word-trigram shingle set per document, as an array column.
    *
    * Built in ONE typed mapPartitions pass: tokenize, shingle, and
    * dedup into the array inside the task. The earlier formulation
    * (explode to (doc_id, shingle) rows → groupBy collect_set → join
    * back to the document table) paid a second full exchange of every
    * shingle STRING plus a hash-aggregate dedup of ~30× the corpus
    * bytes, and the join dragged the raw `text` column into the
    * persisted cache — measured 10 s vs ~2 s at sf0.1 for the whole
    * index build. Here the only exchange is the skinny up-front
    * repartition of (doc_id, meta, text) for parallelism (the parquet
    * scan is a single row-group), and the cache holds no text. */
  private def shingled(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("lang"), col("source"),
              col("n_chars"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .as[(Long, String, String, Long, String)]
      .mapPartitions { it =>
        it.map { case (id, lang, source, nChars, t) =>
          val w = t.split(' ').filter(_.nonEmpty)
          val shingles: Array[String] =
            if (w.length < 3) Array.empty[String]
            else {
              val set = new java.util.LinkedHashSet[String]()
              var i = 0
              while (i + 3 <= w.length) {
                set.add(w(i) + " " + w(i + 1) + " " + w(i + 2)); i += 1
              }
              set.toArray(new Array[String](set.size))
            }
          (id, lang, source, nChars, shingles)
        }
      }
      .toDF("doc_id", "lang", "source", "n_chars", "shingles")
  }

  /** What the text indexes' [[SessionCache]] entries are valid for. */
  private def corpus(sfDir: String): Seq[String] = Seq(Tables.path(sfDir, "documents"))

  /** Session-scoped SHINGLE INDEX: the distinct word-trigram set per
    * document, built once per (session, corpus dir) and persisted.
    * Five operators (blocked Jaccard, both MinHash paths, both
    * connected-components paths) consume the same derived table — a
    * production near-dup system materializes this index once per
    * corpus snapshot rather than re-tokenizing per query, exactly as
    * the reference materializes its rollups once per insert batch.
    * The index is hash-partitioned by doc_id (built by that groupBy),
    * so downstream per-doc aggregations reuse the partitioning without
    * a new exchange. */
  def shingleIndex(spark: SparkSession, sfDir: String): DataFrame =
    SessionCache.persisted(spark, "llm.shingles", sfDir)(corpus(sfDir))(
      shingled(Tables.documents(spark, sfDir)))

  /** N-gram Jaccard near-dedup with blocking: candidate pairs share
    * (lang, source, n_chars DIV 50); top-20 most similar pairs.
    * Jaccard over distinct word-trigram shingle sets. */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // docs under 3 tokens have an empty shingle set: no content to
    // match, and 0/0 Jaccard is NaN — which Spark sorts ABOVE every
    // real similarity, so they'd fill the top-k with bogus pairs
    val base = shingleIndex(spark, sfDir)
      .filter(size(col("shingles")) > 0)
      .withColumn("len_bucket", expr("n_chars DIV 50"))
      .select(col("doc_id"), col("lang"), col("source"), col("len_bucket"), col("shingles"))
    val a = base.select(col("doc_id").as("a_id"), col("lang"), col("source"),
                        col("len_bucket"), col("shingles").as("a_sh"))
    val b = base.select(col("doc_id").as("b_id"), col("lang"), col("source"),
                        col("len_bucket"), col("shingles").as("b_sh"))
    a.join(b, Seq("lang", "source", "len_bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("uni", size(col("a_sh")) + size(col("b_sh")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  /** 16 minhash values + the 64-bit shingle-hash set per doc, over
    * word-trigram *shingles*.
    *
    * Shingles, not tokens: the shingle space is |vocab|³, so unrelated
    * documents share few elements and band collisions stay proportional
    * to true Jaccard (token-level minhash on a small vocabulary collides
    * for nearly every pair).
    *
    * The 16 hash families re-hash one base string hash with the family
    * index — the (expensive) string scan happens once per shingle and
    * each family is an xxhash64 over two longs inside codegen. (A
    * Kirsch–Mitzenmacher h1+i·h2 would be cheaper still, but Spark 4's
    * default ANSI mode turns the deliberate long overflow into an
    * error.) The same aggregate also collects the hash set the exact-
    * Jaccard verification runs over — one shingle pass, one doc_id
    * shuffle, serves both stages. Docs with an empty shingle set (< 3
    * tokens) have no signature row: nothing to band, nothing to verify. */
  private def signaturesOf(idx: DataFrame): DataFrame = {
    val perSh = idx.select(col("doc_id"), explode(col("shingles")).as("sh"))
      .withColumn("h1", xxhash64(col("sh")))
    val aggs: Seq[Column] = (0 until 16).map(i =>
      min(xxhash64(col("h1"), lit(i))).as(s"mh$i")) :+
      collect_set(col("h1")).as("hset")
    perSh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Session-scoped MINHASH SIGNATURE INDEX — [[signaturesOf]] over the
    * cached shingle index, built once per (session, corpus dir) and
    * persisted, exactly like [[shingleIndex]] one derivation up. Four
    * operators (banding stats, verified pairs, LSH clustering, near-dup
    * keep) plus the incremental admission probe all consume the same
    * fixed-width frame; in production it is the per-snapshot artifact
    * the near-dup paths persist (see [[writeNearDupIndex]]), so the
    * session cache is the local stand-in for that materialization. */
  def signatureIndex(spark: SparkSession, sfDir: String): DataFrame =
    SessionCache.persisted(spark, "llm.signatures", sfDir)(corpus(sfDir))(
      signaturesOf(shingleIndex(spark, sfDir)))

  /** (doc_id, band, bh) banded rows from a signature frame: 8 bands of
    * 2 minhashes, band hash again xxhash64-fused in codegen. */
  private def bandedOf(sig: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val bands = (0 until 8).map(bi =>
      struct(lit(bi).as("band"),
             xxhash64(col(s"mh${2 * bi}"), col(s"mh${2 * bi + 1}")).as("bh")))
    sig.withColumn("bands", array(bands: _*))
      .select(col("doc_id") +: explode(col("bands")).as("b") +: carry.map(col): _*)
      .select(Seq(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh")) ++
        carry.map(col): _*)
  }

  /** MinHash-LSH banding stats: 16 minhashes → 8 bands of 2; documents
    * sharing a band hash are near-dup candidates. Returns per-band
    * bucket/candidate-pair counts (always non-empty; the pair list
    * itself is [[minhashPairs]]). Un-oracled: xxhash64 has no DuckDB
    * twin (SURVEY §5.3). */
  def minhashBands(spark: SparkSession, sfDir: String): DataFrame = {
    bandedOf(signatureIndex(spark, sfDir))
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("n"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
           sum(when(col("n") > 1, lit(1)).otherwise(lit(0))).cast("long").as("colliding_buckets"),
           sum(col("n") * (col("n") - 1) / 2).cast("long").as("candidate_pairs"))
      .orderBy("band")
  }

  /** MinHash-LSH candidate pairs, verified with exact shingle Jaccard.
    * The scalable near-dedup: only band-colliding pairs are compared.
    *
    * One shingle pass, one doc_id shuffle: the same aggregate computes
    * the 16 minhashes AND the shingle-hash set per doc (an earlier
    * version shingled the corpus twice — the two object-lambda plans
    * cannot exchange-reuse). Verification Jaccard runs over the 64-bit
    * shingle hashes, not the strings: set sizes are identical up to
    * ~2⁻⁶⁴ collisions and the exchange never carries text. */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    minhashVerifiedPairs(spark, sfDir)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(50)

  /** The FULL verified pair stream (no presentation limit) — what the
    * clustering path consumes; [[minhashPairs]] is its top-50 display
    * tail. Reads the session signature index, so the expensive
    * signature build is paid once per corpus, not once per query. */
  def minhashVerifiedPairs(spark: SparkSession, sfDir: String): DataFrame =
    verifiedPairsOf(signatureIndex(spark, sfDir))

  /** Band-collide + exact-verify over any signature frame (doc_id,
    * mh0..mh15, hset): only band-colliding pairs pay the Jaccard, and
    * the Jaccard runs over 64-bit shingle hashes — set sizes identical
    * up to ~2⁻⁶⁴ collisions and the exchange never carries text. */
  private def verifiedPairsOf(docSig: DataFrame): DataFrame = {
    val banded = bandedOf(docSig)
    val cand = banded.as("x").join(banded.as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val sh = docSig.select(col("doc_id"), col("hset"))
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("hset").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("hset").as("b_sh")), "b_id")
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("uni", size(col("a_sh")) + size(col("b_sh")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Uncached form of the index build for ad-hoc frames (specs, batch
    * probes): same one-pass shingling, no session cache entry. */
  def shingleIndexOf(docs: DataFrame): DataFrame = shingled(docs)

  /** Incremental NEAR-dup admission — the fuzzy twin of
    * [[incrementalDedup]] and the hard production case: a new delivery
    * must be rejected not only where its exact hash exists in the
    * corpus, but where a *near*-duplicate does (re-crawls with edited
    * boilerplate, trailing-timestamp variants). MinHash-banded, so the
    * batch never compares pairwise against the corpus: both sides'
    * signatures band-bucket, only cross-side band collisions become
    * candidates, and only candidates pay the exact-Jaccard
    * verification over 64-bit shingle hashes.
    *
    * Scale shape: identical to [[minhashVerifiedPairs]] — fixed-width
    * signatures shuffle, band hash-join generates candidates, no text
    * anywhere past the scan. The corpus side's signatures are the
    * persisted artifact in production — [[writeNearDupIndex]] /
    * [[loadNearDupIndex]] / [[incrementalNearDupAgainstIndex]] are that
    * path; here they come from the session [[signatureIndex]] (the
    * local stand-in for the same materialization). Un-oracled (xxhash64, SURVEY
    * §5.3); the planted-corpus spec proves cross-boundary edited
    * copies are caught and fresh docs admitted. */
  def incrementalNearDup(spark: SparkSession, sfDir: String): DataFrame =
    incrementalNearDupCore(shingleIndex(spark, sfDir),
                           signatureIndex(spark, sfDir),
                           col("doc_id") % 10 === 0)

  /** Core over any shingle-index frame (doc_id, lang, shingles + the
    * `isNew` batch predicate, which must be expressible over doc_id —
    * it is applied to both the index and its signature frame). Returns
    * per-language admission stats: batch size, near-dup rejections,
    * admitted. */
  def incrementalNearDupOver(idx: DataFrame, isNew: Column,
                             threshold: Double = 0.7): DataFrame =
    incrementalNearDupCore(idx, signaturesOf(idx), isNew, threshold)

  private def incrementalNearDupCore(idx: DataFrame, sig: DataFrame,
                                     isNew: Column,
                                     threshold: Double = 0.7): DataFrame =
    nearDupAdmission(idx.filter(isNew), sig.filter(isNew),
                     sig.filter(!isNew), threshold)

  /** Probe a BATCH (shingle index + signatures) against a CORPUS
    * signature frame — the two-frame admission core shared by the
    * single-frame fixture split above and the persisted-index
    * production path ([[incrementalNearDupAgainstIndex]]). */
  private def nearDupAdmission(batchIdx: DataFrame, batchSig: DataFrame,
                               corpusSig: DataFrame,
                               threshold: Double): DataFrame = {
    // candidates strictly ACROSS the boundary: batch probe × corpus build
    val cand = bandedOf(batchSig, Seq("hset"))
      .select(col("doc_id").as("new_id"), col("hset").as("new_set"),
              col("band"), col("bh"))
      .join(bandedOf(corpusSig, Seq("hset"))
              .select(col("doc_id").as("old_id"), col("hset").as("old_set"),
                      col("band"), col("bh")),
            Seq("band", "bh"))
      .select(col("new_id"), col("new_set"), col("old_id"), col("old_set"))
      .dropDuplicates("new_id", "old_id")
    val rejected = cand
      .withColumn("inter", size(array_intersect(col("new_set"), col("old_set"))))
      .withColumn("uni", size(col("new_set")) + size(col("old_set")) - col("inter"))
      .filter(col("inter").cast("double") / col("uni").cast("double") >= threshold)
      .select(col("new_id").as("doc_id")).distinct()
      .withColumn("__rejected", lit(1))
    // report over the FULL batch from the index frame, not the
    // signatures: the signature build explodes shingles, so a doc under
    // 3 tokens (empty shingle array) has no signature row — it can
    // never be a near-dup and must still be counted and admitted, not
    // silently dropped
    batchIdx.select(col("doc_id"), col("lang"))
      .join(rejected, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_batch"),
           count(col("__rejected")).as("n_near_dup"),
           count(when(col("__rejected").isNull, 1)).as("n_admitted"))
      .orderBy("lang")
  }

  /** Exploded (doc_id, token) stream — typed flatMap for the same
    * reasons as [[shingled]]; keeps duplicate tokens (term-frequency
    * weighting, standard for SimHash). */
  private def tokenRows(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, t) =>
          t.split(' ').iterator.filter(_.nonEmpty).map(tok => (id, tok))
        }
      }
      .toDF("doc_id", "tok")
  }

  /** 16-bit SimHash per document (sign-sum of token-hash bits), with the
    * duplicate-candidate histogram per hash value. Un-oracled. */
  def simhashBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val perTok = tokenRows(Tables.documents(spark, sfDir))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums: Seq[Column] = (0 until 16).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1)).as(s"s$i"))
    val sums = perTok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until 16).map(i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    sums.select(col("doc_id"), simhash.as("simhash"))
      .groupBy(col("simhash")).agg(count(lit(1)).as("n_docs"))
      .groupBy(col("n_docs")).agg(count(lit(1)).as("n_hashes"))
      .orderBy("n_docs")
  }

  // ——— benchmark decontamination ———

  /** Benchmark decontamination — the test-set contamination check every
    * pretraining pipeline runs before shipping a corpus: flag corpus
    * documents sharing any VERBATIM word-trigram with a held-out
    * benchmark/eval set, with the count of distinct shared trigrams as
    * the contamination score. The benchmark here is the deterministic
    * `doc_id % 97 == 0` slice (the fixtures carry no separate eval
    * table); production passes a real eval table through the same
    * [[decontaminateAgainst]] shape.
    *
    * Scale shape: the benchmark's distinct shingles are a small
    * broadcast relation (eval sets are 10⁴–10⁶ n-grams even against a
    * 100 TB corpus) hash-joined against the exploded corpus shingles —
    * the corpus side never shuffles for the join, and the per-doc count
    * aggregates on the doc_id partitioning the shingle index already
    * has. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame =
    decontaminateAgainst(shingleIndex(spark, sfDir), col("doc_id") % 97 === 0)

  /** The generic form: split `idx` (rows carrying `doc_id` +
    * `shingles`) into benchmark (`benchPred`) and corpus, and score
    * corpus docs by distinct shingles shared with ANY benchmark doc.
    * Top-50 by score — the review queue a curation run inspects. */
  def decontaminateAgainst(idx: DataFrame, benchPred: Column): DataFrame = {
    val bench = idx.filter(benchPred)
      .select(explode(col("shingles")).as("sh")).distinct()
    val corpus = idx.filter(!benchPred)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    // shingle arrays are distinct per doc, so the count after the join
    // IS the distinct shared-trigram count
    corpus.join(broadcast(bench), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("doc_id"))
      .limit(50)
  }

  /** The benchmark's distinct shingles as a driver-side set — the
    * static side of [[contaminationFlags]]. Eval benchmarks are
    * 10⁴–10⁶ n-grams regardless of corpus scale, so collecting and
    * broadcasting them is the intended shape (same posture as any
    * broadcast dim table). */
  def benchShingleSet(spark: SparkSession, sfDir: String): Set[String] =
    shingleIndex(spark, sfDir)
      .filter(col("doc_id") % 97 === 0)
      .select(explode(col("shingles")).as("sh")).distinct()
      .collect().map(_.getString(0)).toSet

  /** Streaming-ingest decontamination: flag each document against a
    * STATIC benchmark shingle set. Stateless per-document map (shingle
    * in-task, probe the broadcast set, no explode/join/aggregate), so
    * it runs IDENTICALLY under `readStream` — the production shape
    * where ingest drops contaminated docs in-flight while the batch
    * twin [[decontaminateAgainst]] serves the ranked review queue. */
  def contaminationFlags(docs: DataFrame, bench: Set[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bench)
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val set = bc.value
        it.map { case (id, t) =>
          val w = t.split(' ').filter(_.nonEmpty)
          var hit = false
          var i = 0
          while (!hit && i + 3 <= w.length) {
            hit = set.contains(w(i) + " " + w(i + 1) + " " + w(i + 2))
            i += 1
          }
          (id, hit)
        }
      }
      .toDF("doc_id", "contaminated")
  }

  // ——— near-duplicate clustering (connected components) ———

  /** Candidate near-duplicate edges: same-language pairs within ±50
    * chars of each other whose distinct word-trigram shingle sets have
    * Jaccard ≥ 0.5.
    *
    * The length-proximity predicate is the block refiner: true
    * near-dups differ by a few edits (measured |Δn_chars| ≤ 8 on this
    * corpus), so it prunes the quadratic language block to near-linear
    * BEFORE any array intersection runs — the intersect only executes
    * for pairs surviving the cheap band predicate inside the join. */
  private def nearDupEdges(base0: DataFrame): DataFrame = {
    // empty shingle sets (docs under 3 tokens) would make the verify
    // ratio 0/0 = NaN, and NaN >= threshold is TRUE in Spark ordering
    // semantics — every pair of short docs would become an edge
    val base = base0.filter(size(col("shingles")) > 0)
    // Stage 1 — SKINNY pairing: self-join only (doc_id, lang, n_chars);
    // the quadratic lang-block is walked over 20-byte rows and pruned by
    // the scalar predicates before any shingle array exists in the plan.
    // (A single join carrying the arrays is a trap: Catalyst pulls the
    // jaccard filter into the join condition, evaluating array_intersect
    // for every lang-equal candidate — measured 60s vs 4s at sf0.1.)
    val k = base.select(col("doc_id"), col("lang"), col("n_chars"))
    val ka = k.select(col("doc_id").as("a_id"), col("lang"), col("n_chars").as("a_len"))
    val kb = k.select(col("doc_id").as("b_id"), col("lang"), col("n_chars").as("b_len"))
    val pairs = ka.join(kb, ka("lang") === kb("lang") &&
                            col("a_id") < col("b_id") &&
                            abs(col("a_len") - col("b_len")) <= 50)
      .select(col("a_id"), col("b_id"))
    // Stage 2 — attach shingle sets to the surviving pairs only, then
    // verify with the exact jaccard
    val sh = base.select(col("doc_id"), col("shingles"))
    pairs
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("b_sh")), "b_id")
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("uni", size(col("a_sh")) + size(col("b_sh")) - col("inter"))
      .filter(col("inter").cast("double") / col("uni").cast("double") >= 0.5)
      .select(col("a_id"), col("b_id"))
  }

  /** Near-duplicate clusters: connected components over [[nearDupEdges]],
    * labeling every connected doc with the minimum doc_id reachable from
    * it (= the canonical keeper) plus its cluster size. Singletons are
    * excluded — at curation scale almost every doc is one, and the
    * interesting output is the dup groups.
    *
    * Algorithm: distributed min-label propagation — each round every
    * node takes the min of its own label and its neighbors' labels (one
    * join + one min-aggregate per round, all data-parallel), until the
    * label sum reaches a fixpoint. Rounds = graph diameter; near-dup
    * graphs are forests of tiny cliques, so 2-3 rounds in practice. For
    * adversarial long-chain graphs the O(log n)-round alternating
    * large-star/small-star variant (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) drops in with the
    * same per-round join shape. Each round ends in a localCheckpoint:
    * iterative plans otherwise nest one join deeper per round and
    * re-run the (expensive) edge derivation every time. */
  def connectedComponents(spark: SparkSession, sfDir: String): DataFrame =
    // the edge derivation reads the (persisted) shingle index on three
    // plan branches: skinny pairing + two shingle attachments. The
    // component labels are session-cached like the shingle/signature
    // indices one derivation down: the clustering (q63), the capped
    // keep (q114), and any other consumer pay the iterative label
    // propagation once per corpus snapshot — in production this frame
    // is itself a persisted per-snapshot artifact.
    SessionCache.persisted(spark, "llm.components", sfDir)(corpus(sfDir))(
      componentsOf(nearDupEdgeIndex(spark, sfDir)))

  /** Session-scoped exact-Jaccard near-dup EDGE index — [[nearDupEdges]]
    * built once per corpus snapshot; the clustering ([[connectedComponents]])
    * and the cross-source matrix ([[crossSourceDups]]) both consume the
    * same skinny (a_id, b_id) frame. */
  def nearDupEdgeIndex(spark: SparkSession, sfDir: String): DataFrame =
    SessionCache.persisted(spark, "llm.edges", sfDir)(corpus(sfDir))(
      nearDupEdges(
        shingleIndex(spark, sfDir)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("shingles"))))

  /** The 100 TB near-dup clustering path: connected components over the
    * MinHash-LSH candidate pairs instead of the blocked exact-Jaccard
    * edges — no pairwise stage anywhere (band collisions generate the
    * edges), so the same clustering runs where q63's exact edge
    * derivation could not. Verified pairs with jaccard ≥ 0.7 become
    * edges. Un-oracled (xxhash64 has no DuckDB twin); q63 oracles the
    * component algebra itself. */
  def minhashComponents(spark: SparkSession, sfDir: String): DataFrame =
    // r20: session-cached like the exact-Jaccard component labels one
    // block up ("cc:") — the LSH clustering is the same per-corpus-
    // snapshot artifact (the r18 verdict's session-index list names
    // the connected-component frame explicitly), and both consumers
    // (the clustering report q88 and the keep decision q107) re-ran
    // the iterative label propagation per invocation before this.
    SessionCache.persisted(spark, "llm.minhash_components", sfDir)(corpus(sfDir))(
      componentsOf(
        minhashVerifiedPairs(spark, sfDir).filter(col("jaccard") >= 0.7)
          .select(col("a_id"), col("b_id"))))

  /** Materializing near-dup dedup — the decision step after clustering:
    * drop every clustered document except its cluster's canonical
    * keeper (the min-doc_id member = the component label), keep all
    * singletons, and report the surviving corpus per language. This is
    * the fuzzy analog of [[exactKeep]] and the operator a pretraining
    * pipeline actually executes once the near-dup review threshold is
    * signed off.
    *
    * Scale shape: the drop list is (clustered docs minus keepers). On a
    * lightly-duplicated corpus it is small and AQE broadcasts the
    * anti-join by its runtime stats; on a heavily-duplicated web crawl
    * (20-50% dups — billions of ids at 100 TB) it is NOT broadcastable,
    * so the join is deliberately unhinted and falls back to a shuffled
    * anti-join on doc_id — a forced broadcast() here would hit the 8 GB
    * broadcast ceiling exactly when the operator matters most.
    * Un-oracled (inherits xxhash64 from the LSH path); the spec ties
    * kept + dropped to the cluster algebra exactly. */
  def nearDupKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val drop = minhashComponents(spark, sfDir)
      .filter(col("doc_id") =!= col("comp_id"))
      .select(col("doc_id"))
    Tables.documents(spark, sfDir)
      .join(drop, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
           sum(col("n_chars")).cast("long").as("kept_chars"))
      .orderBy("lang")
  }

  /** Duplicate-CAP keep — the middle ground between [[nearDupKeep]]
    * (cap = 1) and no dedup: keep at most `cap` copies per near-dup
    * cluster, all singletons untouched. Pretraining recipes keep a few
    * copies of naturally-recurring text (licenses, boilerplate with
    * real variation) rather than exactly one — the cap bounds the
    * over-represented tail without zeroing it.
    *
    * The per-cluster choice is the `cap` smallest doc_ids, ranked on
    * the native bounded-heap [[graft.plans.TopKPerGroup]] operator
    * rather than a row_number window: a viral boilerplate cluster with
    * millions of members is exactly the skew the cap exists to bound,
    * and the window form would full-sort that cluster in one task. The
    * cluster join is deliberately unhinted — on a heavily-duplicated
    * crawl the clustered-doc list is not broadcastable (same rationale
    * as [[nearDupKeep]]'s anti-join); singletons synthesize their own
    * comp_id (`coalesce` to doc_id) and never inflate the heap.
    * Oracled: clusters come from the exact-Jaccard edge derivation
    * (q63's recursive-CTE twin) plus a quota window over them. */
  def dupCapKeep(spark: SparkSession, sfDir: String, cap: Int = 2): DataFrame = {
    val comps = connectedComponents(spark, sfDir)
      .select(col("doc_id"), col("comp_id"))
    val labeled = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
      .join(comps, Seq("doc_id"), "left")
      .withColumn("comp_id", coalesce(col("comp_id"), col("doc_id")))
    graft.plans.TopKPerGroup.topK(
        labeled, Seq("comp_id"), Seq("doc_id" -> true), cap)
      .select(col("doc_id"), col("comp_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Duplicated-shingle fraction per document — the train-data-dedup
    * diagnostic from Lee et al. ("Deduplicating Training Data Makes
    * Language Models Better"): what share of a document's trigram
    * shingles also occur in some OTHER document. A high fraction means
    * the doc is mostly boilerplate/recurring text even when no single
    * whole-document near-dup exists, which is exactly what substring-
    * level dedup targets. Buckets are pure INTEGER comparisons
    * (4·dup ≥ 3·n ⇔ ≥75%), so the oracle hash-matches by construction;
    * sub-3-token docs have no shingles and report as `none`.
    *
    * Scale shape: one shuffle on the shingle for the document-frequency
    * count, one shuffle back on doc_id for the per-doc fraction — the
    * same two-exchange profile as TF-IDF. At 100 TB the shingle key
    * would be its xxhash64 (the exchange never needs the string); the
    * string key here keeps the DuckDB oracle exact. */
  def dupShingleFraction(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = shingleIndex(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("shingles"))
    val ds = idx.select(col("doc_id"), col("lang"),
                        explode(col("shingles")).as("sh"))
    val sdf = ds.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val perDoc = ds.join(sdf, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
           count(when(col("df") > 1, 1)).as("n_dup"))
    idx.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("bucket",
        when(col("n_sh").isNull, "none")
          .when(col("n_dup") * 4 >= col("n_sh") * 3, "high")
          .when(col("n_dup") * 2 >= col("n_sh"), "mid")
          .otherwise(lit("low")))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy("lang", "bucket")
  }

  /** Near-dup cluster SIZE distribution — the dedup-health dashboard:
    * how much of the duplicated corpus sits in simple pairs vs viral
    * mega-clusters (the skew that decides between [[nearDupKeep]] and
    * [[dupCapKeep]], and whether the clustering needs the star
    * contraction at all). Integer bucket edges, rides the session
    * component cache — zero extra heavy stages. */
  def clusterSizeHistogram(spark: SparkSession, sfDir: String): DataFrame =
    connectedComponents(spark, sfDir)
      .groupBy(col("comp_id")).agg(count(lit(1)).as("sz"))
      .withColumn("bucket",
        when(col("sz") <= 2, "2")
          .when(col("sz") <= 4, "3-4")
          .when(col("sz") <= 8, "5-8")
          .otherwise(lit("9+")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_clusters"),
           sum(col("sz")).cast("long").as("n_docs"),
           sum(col("comp_id")).cast("long").as("comp_checksum"))
      .orderBy("bucket")

  /** LEAKAGE-SAFE train/test split — the eval-contamination guard the
    * plain hash split ([[Sampling]]'s q60 twin) cannot give: a document
    * and its near-duplicates must land on the SAME side, or test-set
    * answers leak into training through paraphrases the doc-level hash
    * scatters. The split key is therefore the near-dup CLUSTER label
    * (singletons: their own doc_id), hashed with the same deterministic
    * md5-prefix rule — every cluster member inherits one coin flip.
    * Composes the session component cache with the split predicate;
    * reports per (lang, split) with an id-checksum. The spec pins the
    * invariant directly: no component ever spans both sides. */
  def leakSafeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val comps = connectedComponents(spark, sfDir)
      .select(col("doc_id"), col("comp_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
      .join(comps, Seq("doc_id"), "left")
      .withColumn("comp_id", coalesce(col("comp_id"), col("doc_id")))
      .withColumn("split",
        when(Sampling.hashBucket(col("comp_id")) < "cd", "train")
          .otherwise(lit("test")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy("lang", "split")
  }

  /** Cross-source duplication matrix — which pairs of ingest sources
    * re-serve each other's content (mirrors, scrapers, syndication).
    * Rides the exact-Jaccard near-dup edge derivation (q63's oracled
    * edge semantics), labels each edge with its endpoints' sources
    * (unordered, `least`/`greatest`), and counts edges per source
    * pair — the table a curation run consults before deciding which
    * source to prefer in [[sourcePreference]]. The source join is a
    * skinny (doc_id, source) broadcast/shuffle; text never moves. */
  def crossSourceDups(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = nearDupEdgeIndex(spark, sfDir)
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
    edges
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
      .select(least(col("sa"), col("sb")).as("src_a"),
              greatest(col("sa"), col("sb")).as("src_b"),
              col("a_id"), col("b_id"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(col("a_id") + col("b_id")).cast("long").as("pair_checksum"))
      .orderBy("src_a", "src_b")
  }

  /** Connected components over an (a_id, b_id) edge list.
    *
    * Fast path: min-label propagation, with the FIRST round folded into
    * the label initialization (label₀ = min(self, neighbors) is one
    * aggregate over the symmetrized edges — the same exchange the old
    * `distinct()` init paid, so the seeding is free and cliques
    * converge after a single confirming round). Rounds = graph
    * diameter, which for near-dup forests of tiny cliques is 1-2.
    *
    * Robust path: if the diameter exceeds `propagationBudget` (an
    * adversarial chain, not a dup forest), the algorithm SWITCHES to
    * the alternating large-star/small-star contraction of Kiveris et
    * al., "Connected Components in MapReduce and Beyond" (SoCC'14),
    * which converges in O(log² n) rounds regardless of diameter — the
    * earlier hard-fail here meant a deep-chain graph aborted at scale. */
  def componentsOf(edges: DataFrame, propagationBudget: Int = 16): DataFrame = {
    // self-loops dropped up front: a (v, v) edge is not a duplication
    // relation, and keeping it only on the propagation path would make
    // the two internal algorithms return different node sets (the star
    // contraction strips self-loops by construction).
    // checkpoint BEFORE the symmetrization union: its two branches would
    // otherwise each re-derive the (expensive) upstream edge pipeline
    val e = edges.filter(col("a_id") =!= col("b_id")).localCheckpoint()
    // the undirected edge set is probed by dst EVERY round — hash it
    // onto dst once and checkpoint, so each round's join reuses the
    // stored partitioning and only the (small) label side shuffles; a
    // Dataset.localCheckpoint preserves outputPartitioning, making the
    // per-round exchange on the edge side a no-op
    val und = e.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(e.select(col("b_id").as("src"), col("a_id").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint()
    var labels = und.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("node"), least(col("src"), col("nmin")).as("comp"))
      .localCheckpoint()
    // fixpoint detector: labels only ever decrease, so the (exact,
    // overflow-proof) decimal sum strictly decreases until convergence
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("comp").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var lastSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < propagationBudget) {
      val msgs = und.join(labels, und("dst") === labels("node"))
        .select(und("src").as("node"), col("comp"))
      val next = labels.union(msgs)
        .groupBy(col("node")).agg(min(col("comp")).as("comp"))
        .localCheckpoint()
      val s = labelSum(next)
      converged = s.compareTo(lastSum) == 0
      lastSum = s
      labels = next
      iter += 1
    }
    val finalLabels = if (converged) labels else starLabels(e)
    val sizes = finalLabels.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
    finalLabels.join(sizes, "comp")
      .select(col("node").as("doc_id"), col("comp").as("comp_id"), col("comp_size"))
      .orderBy("doc_id")
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * SoCC'14): each round keeps every per-node neighborhood operation
    * a single join + aggregate (the same shapes as one propagation
    * round), but the edge set contracts toward stars geometrically, so
    * convergence takes O(log² n) rounds even on a path graph where
    * plain propagation needs diameter rounds. Returns (node, comp)
    * labels; roots label themselves. Edge rows are kept canonically
    * oriented (a > b) throughout. */
  private[llm] def starLabels(edges0: DataFrame): DataFrame = {
    var e = edges0
      .select(greatest(col("a_id"), col("b_id")).as("a"),
              least(col("a_id"), col("b_id")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    // edge-set fixpoint detector: (count, order-independent hash sum) —
    // decimal sum so ANSI mode cannot overflow on the hash aggregate
    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(
        count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    // large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u});
    // output stays canonical because v > u ≥ m
    def largeStar(cur: DataFrame): DataFrame = {
      val und = cur.select(col("a").as("u"), col("b").as("v"))
        .union(cur.select(col("b").as("u"), col("a").as("v")))
      val mins = und.groupBy(col("u")).agg(min(col("v")).as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      und.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    // small-star: smaller neighbors (and u itself) link to the minimum
    // smaller neighbor; rows already oriented a > b
    def smallStar(cur: DataFrame): DataFrame = {
      val mins = cur.groupBy(col("a").as("u")).agg(min(col("b")).as("m"))
      cur.select(col("a").as("u"), col("b").as("v"))
        .join(mins, "u")
        .select(when(col("v") === col("m"), col("u")).otherwise(col("v")).as("a"),
                col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    var last = fingerprint(e)
    var converged = false
    var iter = 0
    val maxRounds = 64 // ≥ log²(any realistic n); a true safety valve
    while (!converged && iter < maxRounds) {
      e = smallStar(largeStar(e).localCheckpoint()).localCheckpoint()
      val now = fingerprint(e)
      converged = now == last
      last = now
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"starLabels did not reach an edge fixpoint in $maxRounds rounds")
    // fixpoint edges are stars (node → component-min root)
    e.select(col("a").as("node"), col("b").as("comp"))
      .union(e.select(col("b").as("node"), col("b").as("comp")))
      .distinct()
  }

  // ——— content-defined chunking (rolling hash) ———

  /** Karp–Rabin chunk boundaries: a degree-`win` polynomial rolling hash
    * over chars (wrap-around Long arithmetic); a boundary falls where the
    * window hash has `maskBits` trailing zero bits, subject to min/max
    * chunk lengths. Returns end offsets; the last chunk always ends at
    * `text.length`. Boundaries depend only on the local `win` chars —
    * the shift-invariance that makes chunk hashes survive prefix edits
    * (rsync/CDC-style dedup), which whole-document hashing cannot. */
  def chunkEnds(text: String, win: Int = 16, maskBits: Int = 6,
                minLen: Int = 32, maxLen: Int = 512): Seq[Int] = {
    val B = 1000003L
    val bw = { var p = 1L; var i = 0; while (i < win) { p *= B; i += 1 }; p }
    val mask = (1L << maskBits) - 1
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var h = 0L
    var start = 0
    var i = 0
    while (i < text.length) {
      h = h * B + text.charAt(i).toLong
      if (i >= win) h -= text.charAt(i - win).toLong * bw
      val len = i - start + 1
      if ((i >= win - 1 && (h & mask) == 0 && len >= minLen) || len >= maxLen) {
        ends += i + 1; start = i + 1
      }
      i += 1
    }
    if (start < text.length || text.isEmpty) ends += text.length
    ends.toSeq
  }

  /** Per-document content-defined chunks: (doc_id, chunk_idx, chunk_len,
    * chunk md5). Typed mapPartitions (per-doc char loop), repartitioned
    * first so the scan's single row-group doesn't serialize the corpus
    * onto one core. */
  def contentChunks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          var from = 0
          chunkEnds(t).zipWithIndex.map { case (end, idx) =>
            val chunk = t.substring(from, end)
            from = end
            val hex = md.digest(chunk.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            (id, idx, chunk.length, hex)
          }
        }
      }
      .toDF("doc_id", "chunk_idx", "chunk_len", "chunk_hash")
  }

  /** Chunk-level dedup rollup: how many chunks are shared by how many
    * documents — the rolling-hash fingerprint view of corpus redundancy
    * (near-identical docs share all but their edited chunks). Shuffle
    * carries (16-byte hash, id), never text. Un-oracled: the rolling
    * boundary function has no SQL twin (spec covers reassembly and
    * shift-invariance). */
  def chunkDedupStats(spark: SparkSession, sfDir: String): DataFrame =
    contentChunks(spark, sfDir)
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_occurrences"))
      .groupBy(col("n_docs"))
      .agg(count(lit(1)).as("n_chunks"),
           sum(col("n_occurrences")).as("total_occurrences"))
      .orderBy("n_docs")
}
