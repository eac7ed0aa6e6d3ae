package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Dedup.{dot, l2norm}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers:
  *  - bruteForceTopK: exact baseline — broadcast the (small) query set
  *    against the corpus, one pass, top-k per query via window. O(|Q|·N)
  *    dot products, fully distributed, no shuffle of the corpus.
  *  - lshTopK: random-hyperplane LSH — corpus hashed once into bucket
  *    tables, queries probe matching buckets only. Recall tunable by
  *    bands × bits.
  *  - ivfTopK: IVF-flat — corpus partitioned into inverted lists by nearest
  *    centroid; queries search the nProbe nearest lists. The standard
  *    billion-scale layout: lists are the partition key, so each query
  *    touches nProbe/C of the corpus.
  */
/** The one lifecycle every ANN index family shares: [[PqIndex]] (flat PQ
  * and SQ8), [[LshIndex]] and [[IvfPqIndex]] (IVF-PQ and IVF-SQ8). An
  * index root holds three kinds of state:
  *  - frozen state: small sidecar dirs written once per save — the
  *    trained quantizer (`codebooks`, `centroids`), the optional OPQ
  *    `rotation` and IVF's `meta` encoding flag. Nothing appends to them
  *    (FAISS semantics: the quantizer is frozen at build);
  *  - per-vector tables (`codes`, or `bands` and `vectors`), hive
  *    batch-partitioned: a save is `batch=0` and each ingest lands as its
  *    own `batch=N`, so nothing standing is re-encoded;
  *  - `deletes/`: tombstoned ids, batch-partitioned the same way.
  *
  * The contracts, the same for every family (spec-pinned and gated):
  *  - Save claims the whole root. The sidecar legs write first, in
  *    parallel; an absent optional sidecar (an un-rotated index) REMOVES a
  *    stale one, so a later append can never encode against a frame the
  *    codes were not built with. Then every table of the family and
  *    `deletes/` are swept — overwrite mode rewrites only `batch=0`, so
  *    stale partitions and tombstones would otherwise union into the next
  *    load — and the per-vector tables land LAST: a crash mid-save can
  *    tear the tables, but a completed save never sits beside a stale
  *    sidecar. Never save into the root an index's own frames were loaded
  *    from (the rewrite would read what it deletes).
  *  - Load reads the frozen state as plain parquet, overlapped with the
  *    table reads, then anti-joins the tombstoned ids (8-byte keys: a
  *    small set broadcasts, a huge one is a plain equi-join) out of every
  *    per-vector table. Serving is deletion-oblivious: a masked serve
  *    equals a from-scratch build over the surviving corpus. Legacy flat
  *    tables (pre-batch saves) load too, but must be re-saved before an
  *    append: flat files beside `batch=N` dirs fail partition discovery
  *    loudly.
  *  - Append and ingestStream resolve the frozen state ONCE into plain
  *    arrays — a persisted rotation rotates every batch and IVF's `meta`
  *    flag picks raw or residual codes, so a caller cannot land codes of
  *    the wrong space — then encode each batch and write it as `batch=N`
  *    of every table, overwriting only that partition: idempotent per
  *    batch id. Encodings are pure per-vector functions of the frozen
  *    state, so an appended index serves exactly what a from-scratch
  *    encode of the union serves. Ids must be unique across batches
  *    (rows, not upserts).
  *  - ingestStream lands micro-batch `id` as `batch=baseBatch+id`.
  *    Structured Streaming replays an uncommitted micro-batch under the
  *    same id, so the re-run overwrites the identical partitions:
  *    exactly-once ingest with no manifest beyond the checkpoint.
  *    `baseBatch` must clear every landed batch (a save is 0); a FRESH
  *    checkpoint that would overwrite one fails fast at start. The
  *    default Trigger.AvailableNow drains the source and stops.
  *  - Delete is add-only: each call APPENDS id rows under
  *    `deletes/batch=N`, so batch-id reuse or a delete after a compact
  *    never resurrects an earlier takedown, a replayed or torn delete
  *    only under-masks until its rerun lands, duplicates collapse under
  *    the load's distinct(), and phantom ids are no-ops. Nothing is
  *    rewritten and the quantizer stays frozen (FAISS remove_ids). The
  *    mask is ingest-order-blind: an id appended again after its delete
  *    stays masked until a purge (unlike FAISS, by design).
  *  - Compact collapses the `batch <= upToBatch` partitions of each table
  *    and of `deletes/` into one ([[PartitionedCompaction]]: crash-safe
  *    without a manifest, as rows are distinct given unique ids), the
  *    file-count bound for a long-lived index. Compact only batches whose
  *    append completed. Tombstones survive compaction.
  *  - Purge is load → save into a fresh root: the byte-reclaim step a
  *    delete defers. Deleted rows are gone physically, the frozen state
  *    is copied untouched, the fresh root serves what the masked load
  *    served, and a purged id can be re-ingested.
  *
  * Independent legs overlap through `PlanParallel.mapOrdered`, one
  * bounded pool per call, so a leg that runs parallel work itself cannot
  * deadlock. Each family mixes in a [[Family]]. */
private[graft] object IndexRoot {
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
  import graft.util.PlanParallel

  /** One family's part of the lifecycle, mixed into its companion object:
    * the family names its tables and frozen-state legs and opens a root
    * ([[load]]); the companion inherits every shared step, and its
    * append and ingestStream pass their per-batch encoder to
    * [[appendBatch]] and [[streamBatches]]. */
  trait Family[I] {
    /** The batch-partitioned per-vector tables, in [[rows]] order. */
    private[operators] def tables: Seq[String]
    /** The frozen-state sidecars of `index`, name → frame; `None` removes
      * a stale one. */
    private[operators] def frozen(index: I): Seq[(String, Option[DataFrame])]
    private[operators] def rows(index: I): Seq[DataFrame]

    /** The index at `dir`; the family's frozen-state reads run as
      * [[masked]]'s legs. */
    def load(spark: SparkSession, dir: String): I

    def delete(dir: String, ids: DataFrame, idCol: String,
               batchId: Long = 1L): Unit =
      ids.select(col(idCol).cast("long").as("id")).distinct()
        .write.mode("append").parquet(s"$dir/deletes/batch=$batchId")

    def compact(spark: SparkSession, dir: String, upToBatch: Long): Unit =
      (tables :+ "deletes").foreach(t =>
        PartitionedCompaction.compactPartitioned(spark, s"$dir/$t", upToBatch))

    def purge(spark: SparkSession, dir: String, freshDir: String): Unit =
      save(load(spark, dir), freshDir)

    private[operators] def save(index: I, dir: String): Unit = {
      val r = rows(index)
      write(r.head.sparkSession, dir, frozen(index), tables, tables.zip(r))
    }

    /** `encoder` resolves the frozen state once into plain arrays; the
      * function it returns encodes one batch into one frame per table. */
    private[operators] def appendBatch(dir: String, batch: DataFrame,
                                       batchId: Long)(
        encoder: => DataFrame => Seq[DataFrame]): Unit =
      writeBatch(dir, encoder(batch), batchId)

    private[operators] def streamBatches(dir: String, vectors: DataFrame,
                                         checkpoint: String, baseBatch: Long,
                                         trigger: Trigger)(
        encoder: => DataFrame => Seq[DataFrame]): StreamingQuery = {
      requireFreshBase(vectors.sparkSession, tables.map(t => s"$dir/$t"),
        checkpoint, baseBatch)
      val encode = encoder
      vectors.writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          writeBatch(dir, encode(batch), baseBatch + id)
        }
        .trigger(trigger)
        .start()
    }

    private def writeBatch(dir: String, frames: Seq[DataFrame],
                           batchId: Long): Unit =
      inParallel(tables.zip(frames).map { case (t, f) =>
        () => f.write.mode("overwrite").parquet(s"$dir/$t/batch=$batchId") }: _*)
  }

  /** Run independent legs at once; rethrows the first failure. Callers
    * overlap differently-typed reads by forcing lazy vals through it. */
  def inParallel(legs: (() => Any)*): Unit =
    PlanParallel.mapOrdered(legs)(_()): Unit

  /** The steps of a save, also run alone by the partial saves (bands-only,
    * emptyLike): write the sidecars, sweep `sweep` and `deletes/`, then
    * write `rows` as `batch=0`. */
  def write(spark: SparkSession, dir: String,
            frozen: Seq[(String, Option[DataFrame])], sweep: Seq[String],
            rows: Seq[(String, DataFrame)]): Unit = {
    inParallel(frozen.map { case (name, frame) => () => frame match {
      // frozen frames are small by design (m·ks, C or d rows): one file,
      // not defaultParallelism near-empty ones every load must scan
      case Some(f) => f.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
      case None => clearStale(spark, dir, name)
    }}: _*)
    clearStale(spark, dir, sweep :+ "deletes": _*)
    inParallel(rows.map { case (t, f) =>
      () => f.write.mode("overwrite").parquet(s"$dir/$t/batch=0") }: _*)
  }

  /** The per-vector `tables` of `dir`, then the `extra` frames, each with
    * the tombstoned ids anti-joined out. `legs` (a family's frozen-state
    * reads) overlap the table and tombstone reads. */
  def masked(spark: SparkSession, dir: String, tables: Seq[String],
             extra: Seq[DataFrame], legs: (() => Any)*): Seq[DataFrame] = {
    lazy val read = PlanParallel.mapOrdered(tables)(t =>
      spark.read.parquet(s"$dir/$t").drop("batch"))
    lazy val del = sidecar(spark, dir, "deletes")
      .map(_.drop("batch").select(col("id")).distinct())
    inParallel(Seq(() => read, () => del) ++ legs: _*)
    (read ++ extra).map(t => del.fold(t)(t.join(_, Seq("id"), "left_anti")))
  }

  /** The `batch=N` partition numbers under `table` (empty if absent). */
  def batchIds(spark: SparkSession, table: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
  }

  /** The ingestStream start guard. A RETAINED checkpoint is always safe:
    * committed micro-batches never re-run, and an uncommitted replay
    * overwrites the identical partition it half-wrote. A FRESH one
    * restarts streaming batch ids at 0, so a stale `baseBatch` would make
    * the per-batch overwrite clobber standing `batch=N` data silently
    * (r14 ADVICE): refuse to start when there are no committed offsets
    * and a landed partition id >= `baseBatch` under any table. */
  private def requireFreshBase(spark: SparkSession, tables: Seq[String],
                               checkpoint: String, baseBatch: Long): Unit = {
    val off = new org.apache.hadoop.fs.Path(s"$checkpoint/offsets")
    val offFs = off.getFileSystem(spark.sessionState.newHadoopConf())
    if (offFs.exists(off) && offFs.listStatus(off).nonEmpty) return
    tables.foreach { table =>
      val present = batchIds(spark, table)
      val clash = present.filter(_ >= baseBatch)
      if (clash.nonEmpty) throw new IllegalStateException(
        s"ingestStream with a FRESH checkpoint ($checkpoint) would overwrite " +
          s"existing partition(s) batch=${clash.min}..${clash.max} under $table: " +
          s"streaming batchIds restart at 0, so baseBatch=$baseBatch collides " +
          s"with already-ingested data. Pass baseBatch > ${present.max} " +
          "(or reuse the original checkpoint to resume the stream).")
    }
  }

  /** Remove the named subdirs of `dir` if present. */
  def clearStale(spark: SparkSession, dir: String, subdirs: String*): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    subdirs.foreach { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true): Unit
    }
  }

  /** The `name` dir of `dir` as a plain parquet read, if it exists. */
  def sidecar(spark: SparkSession, dir: String,
              name: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(spark.read.parquet(s"$dir/$name")) else None
  }

  /** The persisted OPQ rotation; absence = an un-rotated index. */
  def readRotation(spark: SparkSession, dir: String): Option[DataFrame] =
    sidecar(spark, dir, "rotation")

  /** The persisted rotation as a plain matrix, for the encoders. */
  def rotationMatrix(spark: SparkSession,
                     dir: String): Option[Array[Array[Double]]] =
    readRotation(spark, dir).map(SimilaritySearch.rotationMatrix)

  def rotated(batch: DataFrame, rotation: Option[Array[Array[Double]]],
              idCol: String, vecCol: String): DataFrame =
    rotation.fold(batch)(SimilaritySearch.rotateBy(batch, _, idCol, vecCol))
}

/** A persisted product-quantization index: `codebooks` = (subspace,
  * codeword, vec), m·ks small rows written once at build; `codes` = (id,
  * code BINARY), m bytes per corpus vector; `rotation` = the optional OPQ
  * frame (see [[IvfPqIndex]]). Build with `SimilaritySearch.buildPqIndex`
  * (or `buildSqIndex`), serve with `searchPqIndex`; the lifecycle is
  * [[IndexRoot]]'s. */
final case class PqIndex(codebooks: DataFrame, codes: DataFrame,
                         rotation: Option[DataFrame] = None) {
  def save(dir: String): Unit = PqIndex.save(this, dir)
}

object PqIndex extends IndexRoot.Family[PqIndex] {
  private[operators] val tables = Seq("codes")
  private[operators] def frozen(ix: PqIndex) =
    Seq("codebooks" -> Some(ix.codebooks), "rotation" -> ix.rotation)
  private[operators] def rows(ix: PqIndex) = Seq(ix.codes)

  def load(spark: SparkSession, dir: String): PqIndex = {
    lazy val cb = spark.read.parquet(s"$dir/codebooks")
    lazy val rot = IndexRoot.readRotation(spark, dir)
    val Seq(codes) = IndexRoot.masked(spark, dir, tables, Nil,
      () => cb, () => rot)
    PqIndex(cb, codes, rot)
  }

  private def encoder(spark: SparkSession, dir: String, idCol: String,
                      vecCol: String): DataFrame => Seq[DataFrame] = {
    lazy val rot = IndexRoot.rotationMatrix(spark, dir)
    lazy val cb = SimilaritySearch.pqCodebooksFromDf(
      spark.read.parquet(s"$dir/codebooks"))
    IndexRoot.inParallel(() => rot, () => cb)
    val ((cbs, starts), r) = (cb, rot)
    batch => Seq(SimilaritySearch.encodePqPrepared(cbs, starts,
      IndexRoot.rotated(batch, r, idCol, vecCol), idCol, vecCol))
  }

  def append(spark: SparkSession, dir: String, batch: DataFrame,
             idCol: String, vecCol: String, batchId: Long = 1L): Unit =
    appendBatch(dir, batch, batchId)(encoder(spark, dir, idCol, vecCol))

  def ingestStream(dir: String, vectors: DataFrame, idCol: String,
                   vecCol: String, checkpoint: String,
                   baseBatch: Long = 1L,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamBatches(dir, vectors, checkpoint, baseBatch, trigger)(
      encoder(vectors.sparkSession, dir, idCol, vecCol))
}

/** A persisted hyperplane-LSH index: `bands` = (id, band, sig), the
  * corpus bucket table, numBands rows per vector; `vectors` = (id, v,
  * nrm), the exact-scoring table with precomputed norms. No frozen state:
  * signatures are pure functions of the band shape. Build with
  * `SimilaritySearch.buildLshIndex`, serve with `searchLshIndex`; the
  * lifecycle is [[IndexRoot]]'s. A long-lived appended index compacts on
  * whatever cadence bounds its file count: one directory per ingest batch
  * eventually makes partition LISTING the per-query cost. */
final case class LshIndex(bands: DataFrame, vectors: DataFrame) {
  def save(dir: String): Unit = LshIndex.save(this, dir)

  /** BANDS-ONLY persistence — the storage-economics option for
    * deployments that keep their corpus parquet anyway: the vectors half
    * is a double-cast copy of the corpus (its 1.5×-raw bytes are the
    * real cost of a self-contained index — SCALE.md storage table), so
    * skipping it cuts the standing bill from 558 to 159 B/vec and the
    * index holds ONLY what the corpus can't reproduce: the hashed band
    * rows. Serve by rebinding the vectors half to the corpus at load
    * ([[LshIndex.loadBandsOnly]]). Sweeps a stale `vectors/` like any
    * save, so a plain [[LshIndex.load]] of the root fails loudly instead
    * of pairing these bands with an older index's vectors. */
  def saveBandsOnly(dir: String): Unit =
    IndexRoot.write(bands.sparkSession, dir, Nil, LshIndex.tables,
      Seq("bands" -> bands))
}

object LshIndex extends IndexRoot.Family[LshIndex] {
  private[operators] val tables = Seq("bands", "vectors")
  private[operators] def frozen(ix: LshIndex) = Nil
  private[operators] def rows(ix: LshIndex) = Seq(ix.bands, ix.vectors)

  def load(spark: SparkSession, dir: String): LshIndex = {
    val Seq(bands, vectors) = IndexRoot.masked(spark, dir, tables, Nil)
    LshIndex(bands, vectors)
  }

  /** Load a BANDS-ONLY index ([[LshIndex.saveBandsOnly]]) by rebinding
    * its vectors half to the caller's corpus frame: scoring rows are
    * derived cast-at-read (`array<double>` + precomputed norm — the SAME
    * prep the ingest applies, and parquet float→double widening is
    * exact), so serving is value-identical to a self-contained index
    * over the same corpus (spec-pinned). Tombstones mask BOTH halves, so
    * deleted ids the corpus still holds never score. The corpus must
    * contain every ingested id: candidate scoring is an inner equi-join
    * on id, so a missing vector silently drops its candidates. */
  def loadBandsOnly(spark: SparkSession, dir: String, corpus: DataFrame,
                    idCol: String, vecCol: String): LshIndex = {
    val Seq(bands, vectors) = IndexRoot.masked(spark, dir, Seq("bands"),
      Seq(SimilaritySearch.preparedVectors(corpus, idCol, vecCol)))
    LshIndex(bands, vectors)
  }

  private def encoder(idCol: String, vecCol: String, bitsPerBand: Int,
                      numBands: Int): DataFrame => Seq[DataFrame] =
    batch => Seq(
      SimilaritySearch.lshBands(batch, idCol, vecCol, bitsPerBand, numBands),
      SimilaritySearch.preparedVectors(batch, idCol, vecCol))

  def append(dir: String, batch: DataFrame, idCol: String, vecCol: String,
             bitsPerBand: Int = 12, numBands: Int = 224,
             batchId: Long = 1L): Unit =
    appendBatch(dir, batch, batchId)(
      encoder(idCol, vecCol, bitsPerBand, numBands))

  def ingestStream(dir: String, vectors: DataFrame, idCol: String,
                   vecCol: String, checkpoint: String,
                   bitsPerBand: Int = 12, numBands: Int = 224,
                   baseBatch: Long = 1L,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamBatches(dir, vectors, checkpoint, baseBatch, trigger)(
      encoder(idCol, vecCol, bitsPerBand, numBands))
}

/** A persisted IVF-PQ index (the FAISS-style billion-scale layout):
  * `centroids` = (cent_id, cv) — the inverted-list anchors; `codebooks`
  * as in [[PqIndex]]; `codes` = (id, list_id, code BINARY) — each corpus
  * vector's list assignment plus its m-byte PQ code. Queries probe only
  * nProbe lists, so the ADC scan touches ~nProbe/C of the codes instead
  * of all of them. The production standing-index shape (14.6 B/vec
  * measured at sf10 — SCALE.md storage table); the lifecycle is
  * [[IndexRoot]]'s, with list assignment and code both pure per-vector
  * functions of the frozen quantizer pair.
  *
  * `byResidual` = the FAISS IndexIVFPQ DEFAULT encoding: codes quantize
  * the RESIDUAL (v − assigned centroid) instead of v itself. Residuals
  * are much smaller vectors than the raw corpus (the coarse quantizer
  * has already explained the centroid-scale structure), so the same m
  * bytes spend their resolution on the fine detail — measurably higher
  * recall at the identical scan fraction and storage. The flag is
  * persisted as the `meta` sidecar, written UNCONDITIONALLY
  * (by_residual=false included) so a raw save over a residual root
  * overwrites the stale flag (r15 ADVICE): codes from the two encodings
  * are not interchangeable, so serve and append must agree with build.
  *
  * `rotation` = an optional OPQ pre-rotation (FAISS IndexPreTransform
  * made first-class): the codes live in ROTATED space and the persisted
  * frame makes append, ingestStream and `searchIvfPqIndex` rotate
  * incoming batches and queries AUTOMATICALLY — a caller who forgot to
  * pre-rotate one batch would otherwise land raw-space codes silently
  * among rotated ones. Orthogonality preserves cosines, so a rotated
  * index's rankings are rankings of the original vectors. */
final case class IvfPqIndex(centroids: DataFrame, codebooks: DataFrame,
                            codes: DataFrame, byResidual: Boolean = false,
                            rotation: Option[DataFrame] = None) {
  def save(dir: String): Unit = IvfPqIndex.save(this, dir)
}

object IvfPqIndex extends IndexRoot.Family[IvfPqIndex] {
  private[operators] val tables = Seq("codes")
  private[operators] def frozen(ix: IvfPqIndex) =
    frozenLegs(ix.centroids, ix.codebooks, ix.rotation, ix.byResidual)
  private[operators] def rows(ix: IvfPqIndex) = Seq(ix.codes)

  private def frozenLegs(centroids: DataFrame, codebooks: DataFrame,
                         rotation: Option[DataFrame], byResidual: Boolean) = {
    val spark = centroids.sparkSession
    import spark.implicits._
    Seq("centroids" -> Some(centroids), "codebooks" -> Some(codebooks),
      "rotation" -> rotation,
      "meta" -> Some(Seq(byResidual).toDF("by_residual")))
  }

  def load(spark: SparkSession, dir: String): IvfPqIndex = {
    lazy val cent = spark.read.parquet(s"$dir/centroids")
    lazy val cb = spark.read.parquet(s"$dir/codebooks")
    lazy val rot = IndexRoot.readRotation(spark, dir)
    lazy val res = readByResidual(spark, dir)
    val Seq(codes) = IndexRoot.masked(spark, dir, tables, Nil,
      () => cent, () => cb, () => rot, () => res)
    IvfPqIndex(cent, cb, codes, res, rot)
  }

  /** The persisted encoding flag. Absence = raw-vector codes (a pre-r16
    * raw index, back-compatible by construction). An EXISTING but
    * unreadable or rowless meta dir (crash-torn write, leftover
    * _temporary) is a clear index-corruption error instead of an opaque
    * NoSuchElementException (r15 ADVICE): guessing an encoding here would
    * silently serve garbage rankings. */
  private def readByResidual(spark: SparkSession, dir: String): Boolean =
    try IndexRoot.sidecar(spark, dir, "meta").exists { meta =>
      val rows = meta.select(col("by_residual")).head(1)
      require(rows.nonEmpty, "meta parquet has no rows")
      rows(0).getBoolean(0)
    } catch {
      case e: Exception => throw new IllegalStateException(
        s"IvfPqIndex at $dir has a corrupt `meta` sidecar (cannot read " +
          s"by_residual: ${e.getMessage}). The encoding flag decides how " +
          "codes are decoded, so refusing to guess — restore meta or " +
          "rebuild the index.", e)
    }

  private def encoder(spark: SparkSession, dir: String, idCol: String,
                      vecCol: String): DataFrame => Seq[DataFrame] = {
    lazy val rot = IndexRoot.rotationMatrix(spark, dir)
    lazy val res = readByResidual(spark, dir)
    lazy val cent = SimilaritySearch.collectCentroidArr(
      spark.read.parquet(s"$dir/centroids"))
    lazy val cb = SimilaritySearch.pqCodebooksFromDf(
      spark.read.parquet(s"$dir/codebooks"))
    IndexRoot.inParallel(() => rot, () => res, () => cent, () => cb)
    val ((cbs, starts), r, c, byRes) = (cb, rot, cent, res)
    batch => Seq(SimilaritySearch.encodeIvfPqPrepared(c, cbs, starts,
      IndexRoot.rotated(batch, r, idCol, vecCol), idCol, vecCol, byRes))
  }

  def append(spark: SparkSession, dir: String, batch: DataFrame,
             idCol: String, vecCol: String, batchId: Long = 1L): Unit =
    appendBatch(dir, batch, batchId)(encoder(spark, dir, idCol, vecCol))

  def ingestStream(dir: String, vectors: DataFrame, idCol: String,
                   vecCol: String, checkpoint: String,
                   baseBatch: Long = 1L,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamBatches(dir, vectors, checkpoint, baseBatch, trigger)(
      encoder(vectors.sparkSession, dir, idCol, vecCol))

  /** Clone ONLY the quantizer state of `srcRoot` — centroids, codebooks,
    * the `by_residual` meta flag, and the rotation frame if any — into
    * `destRoot`, with no codes and no tombstones (stale state at the
    * destination is swept, as by a save). This is the shard-encoder
    * bootstrap for cluster-scale builds: train the quantizers ONCE on a
    * bounded sample, emptyLike a root per shard, let each shard
    * [[append]]/[[ingestStream]] its own slice locally (encode is a pure
    * per-vector function of the frozen frame, so shard codes can never
    * disagree with a centralized build), then [[merge]] the roots. A
    * fresh emptyLike root has no codes yet — append at least one batch
    * before [[load]]. */
  def emptyLike(spark: SparkSession, srcRoot: String,
                destRoot: String): Unit =
    IndexRoot.write(spark, destRoot,
      frozenLegs(spark.read.parquet(s"$srcRoot/centroids"),
        spark.read.parquet(s"$srcRoot/codebooks"),
        IndexRoot.readRotation(spark, srcRoot), readByResidual(spark, srcRoot)),
      tables, Nil)

  /** Merge `srcRoot`'s codes AND tombstones into `destRoot` (FAISS
    * `merge_from`) — the reduce step of the sharded build [[emptyLike]]
    * bootstraps. REFUSES roots whose quantizer frames differ in any way
    * (centroids, codebooks, by_residual, rotation): codes are only
    * meaningful relative to their frame, so merging across frames would
    * silently corrupt every subsequent serve — the same error class the
    * `meta` sidecar and first-class rotation closed. Source batches land
    * renumbered after destRoot's highest batch (ascending source order
    * preserved), tombstones likewise — the add-only delete contract
    * survives the merge, so an id taken down in EITHER root stays masked
    * in the merged root. Ids must be unique across the merged roots (the
    * same contract as [[append]]). Not idempotent: a crashed merge
    * should be retried into a fresh copy of the destination. Each moved
    * batch is one bounded distributed copy; only batch NUMBERS (a
    * handful — [[compact]] bounds them) touch the driver. */
  def merge(spark: SparkSession,
            destRoot: String, srcRoot: String): Unit = {
    requireSameFrame(spark, destRoot, srcRoot)
    require(IndexRoot.batchIds(spark, s"$srcRoot/codes").nonEmpty,
      s"merge: $srcRoot has no codes/batch=* partitions to merge " +
        "(legacy flat-layout roots must be re-saved first)")
    (tables :+ "deletes").foreach { t =>
      val destMax = IndexRoot.batchIds(spark, s"$destRoot/$t")
        .foldLeft(-1L)(math.max)
      IndexRoot.batchIds(spark, s"$srcRoot/$t").sorted.zipWithIndex.foreach {
        case (b, i) => spark.read.parquet(s"$srcRoot/$t/batch=$b")
          .write.parquet(s"$destRoot/$t/batch=${destMax + 1 + i}")
      }
    }
  }

  /** Exact content equality of the two roots' quantizer frames. The
    * frames are driver-bounded by construction (C <= thousands of
    * centroids, m·ks codebook rows, a d×d rotation — the same class as
    * the serve path's centroid collect), and an [[emptyLike]]-cloned
    * frame is bit-identical parquet, so exact double comparison is the
    * right test — an epsilon would accept genuinely different frames. */
  private def requireSameFrame(spark: SparkSession,
                               destRoot: String, srcRoot: String): Unit = {
    def rows(dir: String, part: String, keys: Seq[String],
             vec: String): Seq[(String, Seq[Double])] =
      spark.read.parquet(s"$dir/$part")
        .select(keys.map(k => col(k).cast("long")) :+
          col(vec).cast("array<double>"): _*)
        .collect().toSeq
        .map(r => (keys.indices.map(r.getLong).mkString(","),
          r.getSeq[Double](keys.length)))
        .sortBy(_._1)
    def check(part: String, keys: Seq[String], vec: String): Unit =
      require(rows(destRoot, part, keys, vec) == rows(srcRoot, part, keys, vec),
        s"merge: $part differs between $destRoot and $srcRoot — codes " +
          "from different quantizer frames cannot be merged (rebuild or " +
          "re-encode one side against the other's frame via emptyLike + append)")
    check("centroids", Seq("cent_id"), "cv")
    check("codebooks", Seq("subspace", "codeword"), "vec")
    require(readByResidual(spark, destRoot) == readByResidual(spark, srcRoot),
      s"merge: by_residual flag differs between $destRoot and $srcRoot")
    (IndexRoot.readRotation(spark, destRoot),
      IndexRoot.readRotation(spark, srcRoot)) match {
      case (None, None) => ()
      case (Some(_), Some(_)) => check("rotation", Seq("i"), "rvec")
      case _ => throw new IllegalArgumentException(
        s"merge: one of $destRoot / $srcRoot is rotated and the other is " +
          "not — their codes live in different spaces")
    }
  }
}

object SimilaritySearch {

  private def prepared(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v")))

  /** The (id, v, nrm) scoring rows of a vector batch — the `vectors`-half
    * counterpart of [[lshBands]] for incremental index ingest
    * ([[LshIndex.append]]): norms precomputed once at ingest so serving
    * never recomputes them. */
  def preparedVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    prepared(df, idCol, vecCol)

  /** Exact cosine top-k. Output: (q_id, n_id, rank, cosine), self excluded. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val q = prepared(queries, idCol, vecCol)
      .select(col("id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("id"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("n_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** MULTI-PROBE LSH ANN (Lv et al., VLDB'07): the corpus is hashed ONCE
    * into `numBands` bucket tables of `bitsPerBand` hyperplane sign bits;
    * each QUERY probes, per band, its exact bucket plus every bucket
    * reachable by flipping subsets of its `flipBits` lowest-margin bits
    * (2^flipBits probes/band) — the buckets a near neighbor most likely
    * fell into when a low-margin sign bit disagreed. A corpus vector is a
    * candidate if any probe matches. Output: (q_id, n_id, rank, cosine) —
    * approximate; measure recall against bruteForceTopK.
    *
    * Default (12, 224, 2) is tuned on the hardest case (near-uniform
    * random embeddings, the testdata): recall@10 = 0.810 at a MEASURED
    * 24.2% distinct-candidate scan (r12 sweep — the lift from the
    * single-probe (8, 48) point's 0.63 at ~19%; EVIDENCE re-measures
    * per round). Measured scan runs ABOVE the nominal numBands·
    * 2^flipBits/2^bitsPerBand = 21.9%: probed buckets correlate with
    * corpus occupancy near the query. Recall rises with bands and
    * flips, falls with bits; on clustered real-world embeddings recall
    * is strictly better than this uniform-data floor.
    *
    * Scale: corpus-side cost is UNCHANGED by multi-probe (one sig kernel
    * pass, numBands 16-byte rows per vector — the index); only the tiny
    * query side fans out 2^flipBits×. The candidate join stays (band,
    * sig) equi, so the shuffle is proportional to probes × bucket
    * occupancy, never corpus × queries. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int,
              bitsPerBand: Int = 12, numBands: Int = 224,
              flipBits: Int = 2): DataFrame = {
    val cand = lshCandidates(corpus, queries, idCol, vecCol,
      bitsPerBand, numBands, flipBits)
    val scored = cand.withColumn("cosine",
      dot(col("q_v"), col("c_v")) / (col("q_n") * col("c_n")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id").as("n_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** The distinct (query, corpus) candidate pairs lshTopK scores — public
    * so the evidence pass can measure the TRUE scan fraction
    * (|candidates| / (|Q|·(N-1))) at the gate's exact operating point,
    * probe overlap included. Carries both payloads for the scorer. */
  def lshCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, bitsPerBand: Int = 12,
                    numBands: Int = 224, flipBits: Int = 2): DataFrame = {
    // corpus: all band signatures in one kernel pass (codegen expression;
    // the composed form generated bands x bits x dim multiply nodes)
    val c = prepared(corpus, idCol, vecCol)
    val cb = c.select(col("id").as("c_id"), col("v").as("c_v"),
      col("nrm").as("c_n"),
      posexplode(graft.functions.expressions.lsh_sigs(col("v"), bitsPerBand, numBands))
        .as(Seq("band", "sig")))
    // queries: per band, 2^flipBits probe sigs from one margin-aware pass
    val q = prepared(queries, idCol, vecCol)
    val qb = q.select(col("id").as("q_id"), col("v").as("q_v"),
        col("nrm").as("q_n"),
        posexplode(graft.functions.expressions.lsh_probe_sigs(
          col("v"), bitsPerBand, numBands, flipBits)).as(Seq("band", "probes")))
      .select(col("q_id"), col("q_v"), col("q_n"), col("band"),
        explode(col("probes")).as("sig"))
    qb.join(cb, Seq("band", "sig"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("q_v"), col("q_n"),
        col("c_id"), col("c_v"), col("c_n"))
      .distinct()
  }

  /** Build a PERSISTED hyperplane-LSH index over a standing corpus — hash
    * the corpus ONCE, serve query batches forever (and hash new batches
    * incrementally with [[lshBands]]): the standing-corpus serving shape
    * of [[lshTopK]], matching PqIndex/IvfPqIndex. `bands` is the (id,
    * band, sig) bucket table — numBands ~16-byte rows per vector, an
    * append-only parquet any new batch extends; `vectors` is the (id, v,
    * nrm) scoring table (norms precomputed, the only corpus read a query
    * pays is the candidate-id equi-join). Signatures are pure functions
    * of the vector, so an index-served search returns EXACTLY what
    * lshTopK computes from scratch (spec-pinned), and the same DuckDB
    * oracle certifies both. */
  def buildLshIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    bitsPerBand: Int = 12, numBands: Int = 224): LshIndex = {
    val c = prepared(corpus, idCol, vecCol)
    LshIndex(lshBands(corpus, idCol, vecCol, bitsPerBand, numBands),
      c.select(col("id"), col("v"), col("nrm")))
  }

  /** Band rows of a (new) vector batch — build half + the incremental-
    * ingestion half: append to a standing index's `bands` table (and the
    * batch's (id, v, nrm) rows to `vectors`); nothing existing is
    * touched or re-hashed. */
  def lshBands(df: DataFrame, idCol: String, vecCol: String,
               bitsPerBand: Int = 12, numBands: Int = 224): DataFrame = {
    val c = prepared(df, idCol, vecCol)
    c.select(col("id"),
      posexplode(graft.functions.expressions.lsh_sigs(col("v"), bitsPerBand, numBands))
        .as(Seq("band", "sig")))
  }

  /** Multi-probe search over a persisted LSH index: the query batch
    * computes its probe signatures (one margin-aware kernel pass), joins
    * the index's 16-byte band rows for candidates, and pulls ONLY the
    * candidate vectors by id for exact cosine scoring — the corpus is
    * never re-hashed and its vectors are touched only at candidate ids
    * (with Bloom/zone-map sidecars that read is a point lookup). Output
    * contract identical to [[lshTopK]] at the same operating point —
    * same candidates, same scores, same (cosine DESC, id) tie-break. */
  def searchLshIndex(index: LshIndex, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, bitsPerBand: Int = 12,
                     numBands: Int = 224, flipBits: Int = 2,
                     allowed: Option[DataFrame] = None): DataFrame = {
    val q = prepared(queries, idCol, vecCol)
    val qb = q.select(col("id").as("q_id"), col("v").as("q_v"),
        col("nrm").as("q_n"),
        posexplode(graft.functions.expressions.lsh_probe_sigs(
          col("v"), bitsPerBand, numBands, flipBits)).as(Seq("band", "probes")))
      .select(col("q_id"), col("q_v"), col("q_n"), col("band"),
        explode(col("probes")).as("sig"))
    // FAISS IDSelector semantics (searchIvfPqIndex's contract): the
    // allowed-id set semi-joins the bucket rows BEFORE the probe join,
    // so disallowed vectors never become candidates
    val bandsEff = allowed match {
      case Some(a) => index.bands.join(
        a.select(col(a.columns.head).cast("long").as("id")).distinct(),
        Seq("id"), "left_semi")
      case None => index.bands
    }
    val cand = qb.join(bandsEff.select(col("id").as("c_id"),
          col("band"), col("sig")), Seq("band", "sig"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("q_v"), col("q_n"), col("c_id"))
      .distinct()
    val scored = cand.join(index.vectors.select(col("id").as("c_id"),
        col("v").as("c_v"), col("nrm").as("c_n")), "c_id")
      .withColumn("cosine",
        dot(col("q_v"), col("c_v")) / (col("q_n") * col("c_n")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id").as("n_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** IVF-flat ANN. Centroids: a deterministic pseudo-random corpus sample —
    * the C vectors with the smallest multiplicative hash of their id
    * (Knuth's 2654435761, mod 2^32; ties broken by id). orderBy+limit
    * compiles to TakeOrderedAndProject: each partition keeps its local
    * top-C and the driver merges C·P rows — fully distributed, no global
    * sort, no extra count() pass (this replaced a partition-less
    * row_number() window that funnelled the whole corpus through one task).
    * Pure integer arithmetic, so an exact SQL oracle replicates centroid
    * choice, list assignment, and probing bit-for-bit. The hash multiplies
    * only the LOW 31 BITS of the id ((id mod 2^31)·2654435761 ≤ 5.7e18 <
    * 2^63), so arbitrary 64-bit id spaces — sharded/offset ids included —
    * cannot overflow on either side; the raw id·K form died with
    * ARITHMETIC_OVERFLOW at the sf1 scale rehearsal once ids crossed
    * ~3.4e9. At real scale centroids come from k-means (ivfTopKKMeans),
    * but the assignment/probe mechanics are identical. Corpus partitions
    * into inverted lists by nearest centroid; each query searches its
    * nProbe nearest lists. Output: (q_id, n_id, rank, cosine). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, numCentroids: Int = 16,
              nProbe: Int = 4): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val hkey = pmod(pmod(col("id").cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val cents = c.orderBy(hkey, col("id")).limit(numCentroids)
      .select(col("id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    ivfWithCentroids(c, queries, idCol, vecCol, cents, k, nProbe)
  }

  /** Corpus cartography: partition the embedding corpus into `numCentroids`
    * clusters around deterministic sampled centroids (the ivfTopK
    * multiplicative-id-hash pick — pure integer arithmetic, so the whole
    * profile is SQL-oracle-replicable) and profile every cluster: member
    * count, majority label, label purity, and mean cosine to the centroid.
    * This is the "map the corpus" step of curation — find label-impure or
    * low-coherence regions worth auditing before training.
    *
    * Output: (cent_id, n_members, majority_label, purity, avg_cos).
    *
    * Scale: the centroid table broadcasts (bounded, PlanGuard-allowlisted);
    * assignment is one corpus pass; label counts and cosine means partial-
    * aggregate map-side, so the shuffle carries |clusters|·|labels| rows.
    * At real scale swap the sampled centroids for k-means codebooks
    * (ivfTopKKMeans's bounded trainer) — profile mechanics are identical. */
  def clusterProfile(df: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, numCentroids: Int = 16): DataFrame = {
    val c = prepared(df, idCol, vecCol)
    val hkey = pmod(pmod(col("id").cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val cents = c.orderBy(hkey, col("id")).limit(numCentroids)
      .select(col("id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    val wAssign = Window.partitionBy(col("id"))
      .orderBy(col("csim").desc, col("cent_id"))
    val assigned = c.crossJoin(broadcast(cents))
      .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") === 1)
      .select(col("id"), col("cent_id"), col("csim"))
      .join(df.select(col(idCol).as("id"), col(labelCol).as("label")), "id")
    val perLabel = assigned.groupBy(col("cent_id"), col("label"))
      .agg(count(lit(1)).as("n_lbl"))
    val wMaj = Window.partitionBy(col("cent_id"))
      .orderBy(col("n_lbl").desc, col("label"))
    val major = perLabel.withColumn("lr", row_number().over(wMaj))
      .filter(col("lr") === 1)
      .select(col("cent_id"), col("label").as("majority_label"),
        col("n_lbl").as("n_major"))
    val sizes = assigned.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("csim")), 4).as("avg_cos"))
    sizes.join(major, "cent_id")
      .select(col("cent_id"), col("n_members"), col("majority_label"),
        round(col("n_major") * lit(1.0) / col("n_members"), 4).as("purity"),
        col("avg_cos"))
  }

  /** IVF with k-means-trained centroids (MLlib KMeans, fixed seed →
    * deterministic): tighter clusters → better recall per probed list than
    * the sampled-centroid variant. This is the production path.
    *
    * Training is bounded: KMeans at maxIter=10 makes ~10 passes over its
    * input, so it is fed at most `maxTrainVectors` vectors — the rows whose
    * multiplicative id-hash (Knuth's 2654435761, same scheme as ivfTopK's
    * centroid pick, so the sample is deterministic and rerun-stable) falls
    * under the sampled fraction. One cheap count() sizes the threshold;
    * corpora at or under the cap train on everything, so small-scale
    * behavior (and the recall gate) is unchanged. At 100 TB the training
    * set stays ~256k vectors regardless of corpus size. */
  def ivfTopKKMeans(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, numCentroids: Int = 16,
                    nProbe: Int = 4, maxTrainVectors: Int = 262144,
                    centroids: Option[DataFrame] = None): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val centsRaw = centroids.getOrElse(
      ivfKMeansCentroidsDf(corpus, idCol, vecCol, numCentroids, maxTrainVectors))
    val cents = centsRaw
      .select(col("cent_id").cast("long").as("cent_id"),
        col("cv").cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    ivfWithCentroids(c, queries, idCol, vecCol, cents, k, nProbe)
  }

  /** Train the IVF k-means centroids ALONE and return them as a
    * persistable (cent_id, cv) frame — the freeze/audit surface: persist
    * this once and every downstream step (list assignment, probe
    * selection, scoring) is deterministic arithmetic that an external
    * engine can replay from the frozen frame. Feed it back through
    * `ivfTopKKMeans(..., centroids = Some(df))`. Training is the same
    * bounded deterministic hash-sample as every trainer here. */
  def ivfKMeansCentroidsDf(corpus: DataFrame, idCol: String, vecCol: String,
                           numCentroids: Int = 16,
                           maxTrainVectors: Int = 262144): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = c.select(size(col("v"))).head().getInt(0)
    val x = collectTrainSample(c, dim, maxTrainVectors)
    localLloydPar(x, math.min(numCentroids, math.max(1, x.length)),
        iters = 10, seed = 42L)
      .iterator.zipWithIndex
      .map { case (cv, i) => (i.toLong, cv.toSeq) }
      .toSeq.toDF("cent_id", "cv")
  }

  /** TWO-LEVEL hierarchical coarse trainer — the production path the
    * measured C=16384 cap row (SCALE.md) says becomes mandatory beyond
    * ~1e7 vectors: flat Lloyd is O(iters·C·sample·dim) — 770 s measured
    * at the cap — while two-level is O(iters·(branch + C/branch)·sample·
    * dim); at branch ≈ √C that is ~2√C/C of the flat cost (128× fewer
    * distance evaluations at C=16384).
    *
    * Level 1: MLlib k-means (k = branch, fixed seed) over the bounded
    * deterministic hash-sample — distributed, cheap. Level 2: the sample
    * is split by its level-1 assignment and each branch trains its own
    * sub-quantizer (k_i ∝ branch size, Σk_i = C) with a seeded
    * driver-local Lloyd, concurrently across a thread pool; the union of
    * sub-centers is the C-list coarse codebook. The TRAINING SAMPLE
    * (≤ maxTrainVectors — ~134 MB at dim 64) is collected to the driver
    * for level 2: a bounded training artifact, the same class as FAISS's
    * in-memory train set — the CORPUS is never collected. Deterministic
    * end to end (hash-sample, fixed seeds, seeded shuffles).
    *
    * Returns the same (cent_id, cv) frame as [[ivfKMeansCentroidsDf]]:
    * feed it to [[buildIvfPqIndex]]/[[buildIvfSqIndex]] via their
    * `centroids` parameter. Serving and the value-exact oracle replay
    * depend only on the FROZEN frame, never on which trainer produced
    * it, so hierarchical indexes gate under the unchanged replays. */
  def hierarchicalCentroidsDf(corpus: DataFrame, idCol: String,
                              vecCol: String, numCentroids: Int = 0,
                              branch: Int = 0,
                              maxTrainVectors: Int = 262144,
                              refineIters: Int = 1,
                              maxTrainBytes: Long = 1L << 30): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val lists0 =
      if (numCentroids > 0) numCentroids else autoNumCentroids(memoizedCount(c))
    // BYTE-BUDGET the driver collect (r15 ask 7): the level-2 split needs
    // the sample on the driver, and maxTrainVectors × dim × 8 is ~1.6 GB
    // at dim 768 — auto-shrink the sample so the collect stays under
    // maxTrainBytes (the corpus itself is never collected).
    val dim = c.select(size(col("v"))).head().getInt(0)
    require(dim > 0, "hierarchical trainer needs non-empty vectors")
    val effMaxTrain = {
      val byBudget = maxTrainBytes / (dim.toLong * 8L)
      require(byBudget >= 1L,
        s"maxTrainBytes=$maxTrainBytes cannot hold even one dim-$dim vector")
      if (byBudget < maxTrainVectors) {
        log.info(s"hierarchicalCentroidsDf: shrinking training sample " +
          s"$maxTrainVectors -> $byBudget vectors to fit the " +
          s"$maxTrainBytes-byte driver budget at dim $dim")
        byBudget.toInt
      } else maxTrainVectors
    }
    val trainDf = hashSample(c, effMaxTrain).select(col("v")).cache()
    try {
      val nTrain = trainDf.count()
      // a C beyond the sample size is untrainable — clamp like the flat
      // trainer's setK(min(lists, nTrain)), then hit the clamp EXACTLY
      val lists = math.min(lists0.toLong, math.max(1L, nTrain)).toInt
      val b0 =
        if (branch > 0) branch else math.ceil(math.sqrt(lists.toDouble)).toInt
      require(b0 <= lists,
        s"branch=$b0 > numCentroids=$lists: level 1 cannot have more " +
          "branches than total lists")
      val eb = math.min(b0.toLong, math.max(1L, nTrain)).toInt
      // bounded collect: the training sample only (≤ effMaxTrain) —
      // level 1 trains driver-local on it too ([[localLloydPar]]; the
      // sample is already on the driver for the level-2 split, so the
      // distributed fit bought nothing but ~25 scheduler-bound jobs)
      val pts = trainDf.as[Seq[Double]].collect().map(_.toArray)
      val l1 = localLloydPar(pts, eb, iters = 10, seed = 7L)
      // level-1 assignment of the sample (driver-local, squared L2 — the
      // k-means training metric; serve-time assignment stays the engine's
      // cosine argmax over the FROZEN final centers, which is what the
      // oracle replays)
      def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < cs.length) {
          val cv = cs(ci)
          var d = 0.0; var i = 0
          while (i < cv.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        best
      }
      val byBranch = Array.fill(l1.length)(
        scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
      pts.foreach(p => byBranch(nearest(p, l1)) += p)
      // k_i proportional to branch size (>=1 for non-empty), topped up /
      // trimmed deterministically so Σ k_i == lists EXACTLY. Increments
      // are capped at sizes(i) — localLloyd caps centers at the branch's
      // point count, so a k_i above it would silently under-produce (r15
      // ADVICE); decrements stop at 1. Both bounds are jointly feasible:
      // #nonempty ≤ b0 ≤ lists ≤ nTrain = Σ sizes, so the sweep always
      // converges — and a logic regression fails the loud contract check
      // below instead of building a differently-sized index.
      val sizes = byBranch.map(_.length)
      val total = math.max(1, sizes.sum)
      val ks = sizes.map(s =>
        if (s == 0) 0 else math.max(1, math.round(lists.toDouble * s / total).toInt))
      var drift = ks.sum - lists
      var progressed = true
      while (drift != 0 && progressed) {
        progressed = false
        var i = 0
        while (i < ks.length && drift != 0) {
          if (drift > 0 && ks(i) > 1) { ks(i) -= 1; drift -= 1; progressed = true }
          else if (drift < 0 && ks(i) < sizes(i)) { ks(i) += 1; drift += 1; progressed = true }
          i += 1
        }
      }
      require(ks.sum == lists,
        s"hierarchical trainer k-allocation failed: Σk=${ks.sum} != C=$lists " +
          s"(branches=${ks.length}, sample=$nTrain)")
      // per-branch seeded Lloyd, concurrent (driver-local; each branch is
      // ~sample/branch points with k_i ~ C/branch centers)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(byBranch.length, Runtime.getRuntime.availableProcessors()))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val subCenters =
        try Await.result(Future.sequence(byBranch.indices.map { bi => Future {
          localLloyd(byBranch(bi).toArray, ks(bi), iters = 10, seed = 42L + bi)
        }}), Duration.Inf)
        finally pool.shutdown()
      val coarse = subCenters.flatten.toArray
      require(coarse.length == lists,
        s"hierarchical trainer produced ${coarse.length} centers, expected " +
          s"$lists — a branch under-trained its k_i")
      // DISTRIBUTED Lloyd refinement over the UNION of level-2 centers
      // (r15 ask 3): the per-branch fits never saw points whose true
      // nearest center lives in a NEIGHBORING branch, which is where the
      // two-level recall gap vs flat Lloyd comes from. Each pass assigns
      // the (distributed, still-cached) sample to its nearest final
      // center — pruned to the refineProbe nearest level-1 branches'
      // sub-center ranges, so the scan is O(probe·C/branch) per point,
      // not O(C) — and recomputes means executor-side (partial sums per
      // partition; the shuffle carries ≤ partitions·C partial rows).
      // Emptied centers keep their previous value (no drops). No driver
      // N·C work anywhere.
      val branchOf = subCenters.iterator.zipWithIndex
        .flatMap { case (scs, bi) => scs.map(_ => bi) }.toArray
      val refined = (1 to math.max(0, refineIters)).foldLeft(coarse) {
        (cur, _) => refineCentersOnce(trainDf, l1, cur, branchOf)
      }
      refined.iterator.zipWithIndex.map { case (cv, i) => (i.toLong, cv.toSeq) }
        .toSeq.toDF("cent_id", "cv")
    } finally trainDf.unpersist()
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One distributed refinement pass: branch-pruned nearest-center
    * assignment (squared L2, ties → lowest center index; candidates =
    * the sub-centers of the `probe` nearest level-1 branches — probe 8
    * covers the adjacent-branch escapes that cause the hier-vs-flat
    * gap while keeping the scan ~probe/branch of full argmin) + mean
    * update from per-partition partial sums. Emptied centers survive
    * unchanged, so the center COUNT is invariant (the exact-C
    * contract). Executor-side throughout; the driver only merges the
    * ≤ C aggregated rows. */
  private def refineCentersOnce(train: DataFrame, l1: Array[Array[Double]],
                                centers: Array[Array[Double]],
                                branchOf: Array[Int]): Array[Array[Double]] = {
    val spark = train.sparkSession
    import spark.implicits._
    val nb = l1.length
    val probe = math.min(nb, 8)
    // sub-center ids grouped by branch for the pruned scan
    val byBranchIdx: Array[Array[Int]] = {
      val bufs = Array.fill(nb)(scala.collection.mutable.ArrayBuffer.empty[Int])
      var i = 0
      while (i < branchOf.length) { bufs(branchOf(i)) += i; i += 1 }
      bufs.map(_.toArray)
    }
    val bcL1 = spark.sparkContext.broadcast(l1)
    val bcCenters = spark.sparkContext.broadcast(centers)
    val bcIdx = spark.sparkContext.broadcast(byBranchIdx)
    val partials = train.select(col("v")).as[Seq[Double]]
      .mapPartitions { it =>
        val l1v = bcL1.value
        val cs = bcCenters.value
        val idx = bcIdx.value
        val dim = if (cs.nonEmpty) cs(0).length else 0
        def d2(v: Array[Double], c: Array[Double]): Double = {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - c(i); d += t * t; i += 1 }
          d
        }
        val sums = new java.util.HashMap[Integer, (Array[Double], Long)]()
        it.foreach { vSeq =>
          val v = vSeq.toArray
          // top-`probe` branches by L2 (small nb: simple selection)
          val bd = Array.tabulate(l1v.length)(bi => (d2(v, l1v(bi)), bi))
          java.util.Arrays.sort(bd, Ordering.by[(Double, Int), (Double, Int)](identity))
          var best = -1; var bestD = Double.MaxValue
          var p = 0
          while (p < probe) {
            val cands = idx(bd(p)._2)
            var z = 0
            while (z < cands.length) {
              val ci = cands(z)
              val d = d2(v, cs(ci))
              if (d < bestD || (d == bestD && ci < best)) { bestD = d; best = ci }
              z += 1
            }
            p += 1
          }
          // NaN distances compare false everywhere, leaving best = -1 —
          // fail loudly on the bad input instead of crashing later with
          // an opaque index-out-of-bounds on center key -1 (r16 ADVICE)
          require(best >= 0,
            "refineCentersOnce: no nearest center found for a training " +
              "vector — the vector (or a center) contains non-finite " +
              "values; clean the input embeddings")
          val key = Integer.valueOf(best)
          val e = sums.get(key)
          if (e == null) {
            val s = new Array[Double](dim)
            var i = 0
            while (i < dim) { s(i) = v(i); i += 1 }
            sums.put(key, (s, 1L))
          } else {
            var i = 0
            while (i < dim) { e._1(i) += v(i); i += 1 }
            sums.put(key, (e._1, e._2 + 1L))
          }
        }
        import scala.jdk.CollectionConverters._
        val pid = org.apache.spark.TaskContext.getPartitionId()
        sums.entrySet().iterator().asScala
          .map(e => (e.getKey.intValue(), pid, e.getValue._1.toSeq,
            e.getValue._2))
      }
      .groupByKey(_._1)
      // merge partials in PARTITION-ID order (≤ one partial per partition
      // per center): double sums are order-sensitive, and shuffle arrival
      // order is not deterministic — the sort keeps the trained frame
      // bit-stable across reruns ("deterministic end to end")
      .mapGroups { (ci, it) =>
        val parts = it.toArray.sortBy(_._2)
        val dim = parts(0)._3.length
        val s = new Array[Double](dim)
        var n = 0L
        parts.foreach { p =>
          val pv = p._3
          var i = 0
          while (i < dim) { s(i) += pv(i); i += 1 }
          n += p._4
        }
        (ci, s.toSeq, n)
      }.collect()
    val next = centers.map(_.clone())
    partials.foreach { case (ci, s, n) =>
      if (n > 0) next(ci) = s.iterator.map(_ / n).toArray
    }
    next
  }

  /** OPQ rotation trainer (Ge et al., CVPR'13 — FAISS OPQMatrix): an
    * ORTHOGONAL d×d matrix R minimizing the product-quantization error
    * of the ROTATED vectors, trained by the standard alternating
    * optimization — (1) fit per-subspace codebooks on R·X (seeded
    * driver-local Lloyd, concurrent across subspaces), (2) given the
    * reconstructions X̂ solve the orthogonal Procrustes problem
    * min_R ||R·X − X̂||_F via one d×d SVD (R = V·Uᵀ for Σxx̂ᵀ = UΣVᵀ) —
    * init R = I, fixed iteration counts, so the frame is deterministic.
    * Rotation redistributes variance/correlation ACROSS the m subspaces
    * so each spends its 256 levels on comparable energy; the win scales
    * with the corpus's anisotropy (on an isotropic corpus R ≈ a rotation
    * of equals — measured parity, SCALE.md OPQ row). Because R is
    * orthogonal it preserves dot products and norms exactly in real
    * arithmetic, so cosine rankings in rotated space ARE the original
    * rankings; serving works entirely in rotated space against a frame
    * frozen like the centroids ([[rotateVectors]] + the standard
    * build/serve on the rotated corpus — FAISS IndexPreTransform).
    *
    * Returns (i, rvec): row i of R, dim rows — persist/freeze it once;
    * every downstream step is deterministic arithmetic replayable from
    * the frozen frame (the oracle's encode CTE rotates via
    * list_dot_product against these rows). Training collects ONLY the
    * bounded hash-sample (≤ maxTrainVectors, byte-budgeted like the
    * hierarchical trainer; FAISS OPQMatrix caps its train set the same
    * way — the corpus is never collected). */
  def opqRotationDf(corpus: DataFrame, idCol: String, vecCol: String,
                    numSubspaces: Int = 8, codebookSize: Int = 256,
                    opqIters: Int = 10, maxTrainVectors: Int = 65536,
                    maxTrainBytes: Long = 1L << 30): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = c.select(size(col("v"))).head().getInt(0)
    require(dim >= numSubspaces, s"dim $dim < numSubspaces $numSubspaces")
    val byBudget = maxTrainBytes / (dim.toLong * 8L)
    require(byBudget >= 1L,
      s"maxTrainBytes=$maxTrainBytes cannot hold even one dim-$dim vector")
    val effMax = math.min(maxTrainVectors.toLong, byBudget).toInt
    val x = hashSample(c, effMax).select(col("v"))
      .as[Seq[Double]].collect().map(_.toArray)
    require(x.nonEmpty, "opqRotationDf: empty training sample")
    val starts = pqStarts(dim, numSubspaces)
    val ks = math.min(codebookSize, x.length)
    var r = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(numSubspaces, Runtime.getRuntime.availableProcessors()))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // fixed-chunk parallel map over the sample: deterministic output
      // (chunks merge in ascending order) — the rotate / encode /
      // Procrustes-accumulate steps were serial driver loops across the
      // 10 OPQ iterations
      val chunk = 512
      val nChunks = (x.length + chunk - 1) / chunk
      def parMap[T: scala.reflect.ClassTag](src: Array[Array[Double]])(
          f: Array[Double] => T): Array[T] =
        Await.result(Future.sequence((0 until nChunks).toSeq.map { ch =>
          Future {
            val lo = ch * chunk
            val hi = math.min(src.length, lo + chunk)
            val out = new Array[T](hi - lo)
            var i = lo
            while (i < hi) { out(i - lo) = f(src(i)); i += 1 }
            out
          }
        }), Duration.Inf).toArray.flatten
      var it = 0
      while (it < opqIters) {
        val xr = parMap(x)(v => matVec(r, v))
        // per-subspace Lloyd on the rotated sample (FAISS niter_pq = 4)
        val cbs = Await.result(
          Future.sequence((0 until numSubspaces).toSeq.map { j => Future {
            val len = starts(j + 1) - starts(j)
            val sub = xr.map(v => java.util.Arrays.copyOfRange(v, starts(j), starts(j) + len))
            val cents = localLloyd(sub, ks, iters = 4, seed = 42L + j)
            // localLloyd caps at n; pad like trainPqCodebooksLocal so the
            // dense-codebook invariant holds (dupes never win argmin ties)
            if (cents.length >= ks) cents
            else cents ++ Array.fill(ks - cents.length)(cents(0).clone())
          }}), Duration.Inf).toArray
        // reconstructions of the rotated sample under the new codebooks
        val xhat = parMap(xr) { v =>
          val code = encodeOne(v, cbs, starts)
          val out = new Array[Double](dim)
          var j = 0
          while (j < numSubspaces) {
            val cw = cbs(j)(code(j) & 0xff)
            System.arraycopy(cw, 0, out, starts(j), cw.length)
            j += 1
          }
          out
        }
        // Procrustes: maximize tr(R · M) with M = Σ_n x_n · x̂_nᵀ.
        // Per-chunk partials summed in ascending chunk order — the same
        // deterministic-merge discipline as localLloydPar (M entries can
        // differ from the serial fold in the last ulp; the trained
        // rotation is a frozen artifact the oracle replays from, so the
        // serve stays value-exact)
        val partials = Await.result(
          Future.sequence((0 until nChunks).toSeq.map { ch =>
            Future {
              val lo = ch * chunk
              val hi = math.min(x.length, lo + chunk)
              val mm = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
              var n = lo
              while (n < hi) {
                val xv = x(n); val hv = xhat(n)
                var i = 0
                while (i < dim) {
                  var j = 0
                  while (j < dim) { mm(i, j) += xv(i) * hv(j); j += 1 }
                  i += 1
                }
                n += 1
              }
              mm
            }
          }), Duration.Inf)
        val m = partials.reduceLeft(_ + _)
        val svd = breeze.linalg.svd(m)
        val rNew = svd.Vt.t * svd.U.t
        r = Array.tabulate(dim, dim)((i, j) => rNew(i, j))
        it += 1
      }
    } finally pool.shutdown()
    r.iterator.zipWithIndex.map { case (row, i) => (i.toLong, row.toSeq) }
      .toSeq.toDF("i", "rvec")
  }

  /** Apply a frozen OPQ rotation to a vector batch: out[i] = Σ_j
    * R[i][j]·v[j], ascending-j left-associative per coordinate — the
    * exact double sequence the oracle's `list_dot_product(rvec, v)`
    * computes, so a frame rotated here and a frame rotated in the
    * replay are bit-identical. Output: (idCol, vecCol) with the vector
    * replaced by its rotation (array<double>) and the id cast to long —
    * the ANN family's id convention (every serve path here collects and
    * compares ids as 8-byte longs); feed it to any build/serve path —
    * FAISS IndexPreTransform composition. */
  def rotateVectors(df: DataFrame, rotation: DataFrame, idCol: String,
                    vecCol: String): DataFrame =
    rotateBy(df, rotationMatrix(rotation), idCol, vecCol)

  /** A rotation frame (i, rvec) as its dense d×d matrix. */
  private[operators] def rotationMatrix(
      rotation: DataFrame): Array[Array[Double]] = {
    val rows = rotation
      .select(col("i").cast("int"), col("rvec").cast("array<double>"))
      .collect().map(rr => (rr.getInt(0), rr.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(rows.nonEmpty, "empty rotation frame")
    require(rows.iterator.map(_._1).toSeq == rows.indices,
      "rotation frame rows must be dense 0..dim-1")
    rows.map(_._2)
  }

  /** [[rotateVectors]] against an already-collected matrix — the ingest
    * encoders resolve the frozen rotation once and rotate every batch. */
  private[operators] def rotateBy(df: DataFrame, r: Array[Array[Double]],
                                  idCol: String, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bcR = spark.sparkContext.broadcast(r)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val rv = bcR.value
        it.map { case (id, vSeq) =>
          val v = vSeq.toArray
          // loud on dimension drift: a wrong-dim batch appended into a
          // rotated index would otherwise land silently-truncated
          // garbage codes (r16 ADVICE) — the same failure class
          // requirePqDims guards on the un-rotated paths
          require(v.length == rv.length,
            s"rotateVectors: vector id=$id has dim ${v.length} but the " +
              s"rotation frame is ${rv.length}x${rv.length} — refusing " +
              "to truncate")
          (id, matVec(rv, v).toSeq)
        }
      }.toDF(idCol, vecCol)
  }

  /** R·v with ascending-j left-associative per-coordinate folds (the SQL
    * list_dot_product replica order). */
  private def matVec(r: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val out = new Array[Double](r.length)
    var i = 0
    while (i < r.length) {
      val row = r(i)
      val n = math.min(row.length, v.length)
      var s = 0.0; var j = 0
      while (j < n) { s += row(j) * v(j); j += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  /** Seeded driver-local Lloyd over one branch's sample points: k-means
    * with deterministic shuffled-index init, squared-L2 assignment, mean
    * update; a cluster that empties keeps its previous center (no drops —
    * unlike MLlib, so Σ k_i == C survives training). */
  private def localLloyd(points: Array[Array[Double]], k: Int, iters: Int,
                         seed: Long): Array[Array[Double]] = {
    val n = points.length
    if (n == 0 || k <= 0) return Array.empty
    val kk = math.min(k, n)
    val rnd = new scala.util.Random(seed)
    val centers = rnd.shuffle(points.indices.toVector).take(kk)
      .map(i => points(i).clone()).toArray
    val dim = points(0).length
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        val p = points(i)
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < kk) {
          val cv = centers(ci)
          var d = 0.0; var z = 0
          while (z < dim) { val t = p(z) - cv(z); d += t * t; z += 1 }
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(kk)(new Array[Double](dim))
      val cnts = new Array[Int](kk)
      i = 0
      while (i < n) {
        val s = sums(assign(i)); val p = points(i)
        var z = 0
        while (z < dim) { s(z) += p(z); z += 1 }
        cnts(assign(i)) += 1
        i += 1
      }
      var ci = 0
      while (ci < kk) {
        if (cnts(ci) > 0) {
          val s = sums(ci)
          var z = 0
          while (z < dim) { centers(ci)(z) = s(z) / cnts(ci); z += 1 }
        }
        ci += 1
      }
      it += 1
    }
    centers
  }

  /** [[localLloyd]] parallelized over FIXED 4096-point chunks: the
    * assignment scan fans out across a thread pool and the per-chunk
    * partial (sum, count) accumulators merge in ascending chunk order, so
    * the result is deterministic — same values on any core count (a
    * thread-count-dependent FP merge order would make the frozen frame a
    * function of the machine, the hazard MLlib's treeAggregate already
    * had). Same init (seeded shuffle-take), same strict-< nearest rule,
    * same keep-stale-center-on-empty semantics as [[localLloyd]]. This is
    * the r17 trainer for ALL flat coarse/codebook fits: the fits train on
    * a bounded collected sample (FAISS trains in memory the same way) and
    * the serve/oracle contract depends only on the FROZEN output frame,
    * never on which trainer produced it — swapping the distributed MLlib
    * fit removes its ~25 scheduler-bound jobs per fit (incl. the k-task
    * computeStatisticsDistributedly stages: 358 tasks × 4+ rounds at
    * sf0.1) that dominated every ANN lifecycle gate's wall clock. */
  private[operators] def localLloydPar(points: Array[Array[Double]], k: Int,
                                       iters: Int, seed: Long,
                                       maxThreads: Int =
                                         Runtime.getRuntime.availableProcessors())
      : Array[Array[Double]] = {
    val n = points.length
    if (n == 0 || k <= 0) return Array.empty
    val kk = math.min(k, n)
    val chunk = 4096
    if (n <= chunk || kk.toLong * n < (1L << 20))
      return localLloyd(points, k, iters, seed)
    val rnd = new scala.util.Random(seed)
    val centers = rnd.shuffle(points.indices.toVector).take(kk)
      .map(i => points(i).clone()).toArray
    val dim = points(0).length
    val nChunks = (n + chunk - 1) / chunk
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(nChunks,
        math.min(maxThreads, Runtime.getRuntime.availableProcessors()))))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      var it = 0
      while (it < iters) {
        val parts = Await.result(Future.sequence((0 until nChunks).map { ch =>
          Future {
            val lo = ch * chunk
            val hi = math.min(n, lo + chunk)
            val sums = Array.fill(kk)(new Array[Double](dim))
            val cnts = new Array[Int](kk)
            var i = lo
            while (i < hi) {
              val p = points(i)
              var best = 0; var bestD = Double.MaxValue
              var ci = 0
              while (ci < kk) {
                val cv = centers(ci)
                var d = 0.0; var z = 0
                while (z < dim) { val t = p(z) - cv(z); d += t * t; z += 1 }
                if (d < bestD) { bestD = d; best = ci }
                ci += 1
              }
              val s = sums(best)
              var z = 0
              while (z < dim) { s(z) += p(z); z += 1 }
              cnts(best) += 1
              i += 1
            }
            (sums, cnts)
          }
        }), Duration.Inf)
        val sums = Array.fill(kk)(new Array[Double](dim))
        val cnts = new Array[Int](kk)
        parts.foreach { case (ps, pc) => // ascending chunk order
          var ci = 0
          while (ci < kk) {
            val s = sums(ci); val p = ps(ci)
            var z = 0
            while (z < dim) { s(z) += p(z); z += 1 }
            cnts(ci) += pc(ci)
            ci += 1
          }
        }
        var ci = 0
        while (ci < kk) {
          if (cnts(ci) > 0) {
            val s = sums(ci)
            var z = 0
            while (z < dim) { centers(ci)(z) = s(z) / cnts(ci); z += 1 }
          }
          ci += 1
        }
        it += 1
      }
      centers
    } finally pool.shutdown()
  }

  /** Collect the byte-budgeted deterministic training sample to the
    * driver — the shared front door of the local trainers (the same
    * bounded-collect contract [[hierarchicalCentroidsDf]] and
    * [[opqRotationDf]] established: ≤ min(maxTrainVectors,
    * maxTrainBytes/(dim·8)) vectors; the CORPUS is never collected).
    * Skips [[hashSample]]'s repartition spread — a collect needs no task
    * fan-out, so the sample never shuffles at all. */
  private def collectTrainSample(c: DataFrame, dim: Int,
                                 maxTrainVectors: Int,
                                 maxTrainBytes: Long = 1L << 30): Array[Array[Double]] = {
    val spark = c.sparkSession
    import spark.implicits._
    val byBudget = math.max(1L, maxTrainBytes / (math.max(1, dim).toLong * 8L))
    val effMax = math.min(maxTrainVectors.toLong, byBudget).toInt
    if (effMax < maxTrainVectors)
      log.info(s"collectTrainSample: shrinking training sample " +
        s"$maxTrainVectors -> $effMax vectors to fit the " +
        s"$maxTrainBytes-byte driver budget at dim $dim")
    hashSample(c, effMax, spread = false).select(col("v"))
      .as[Seq[Double]].collect().map(_.toArray)
  }

  /** Product-quantization ANN (IVF-ADC's compression half): each vector is
    * split into `numSubspaces` subvectors, each subvector replaced by the
    * id of its nearest codeword from a per-subspace k-means codebook — the
    * corpus collapses from d doubles to m bytes per vector (64-dim → 8
    * bytes, 64× smaller), which is what makes billion-vector search fit in
    * memory at all. Queries score the COMPRESSED corpus with asymmetric
    * distance (ADC): one m·ks lookup table per query, then m table adds
    * per corpus vector instead of d multiplies. The approximate top
    * `k·rerankFactor` per query are re-ranked against their TRUE vectors,
    * so emitted cosines are exact and only ranking beyond the candidate
    * pool is approximate.
    *
    * Scale: codebooks train on a deterministic hash-sample (same scheme as
    * ivfTopKKMeans, ≤ maxTrainVectors rows, cached once for the m fits);
    * encode and ADC scan are chained mapPartitions — one narrow pass over
    * the corpus, nothing materialized (justified: the per-partition LUT
    * build and the m-lookup inner loop have no whole-stage-codegen
    * equivalent, and the alternative — exploding |Q|×N scored pairs
    * through a shuffle — is exactly what ADC exists to avoid). Each
    * partition emits at most |Q|·k·rerankFactor candidate rows; the
    * rerank join is an equi-join on id against the corpus. Queries are
    * collected to the driver under the same small-|Q| assumption as
    * bruteForceTopK's broadcast (the corpus is never collected).
    * Output: (q_id, n_id, rank, cosine) — approximate; measure recall
    * against bruteForceTopK. For a standing corpus, train/encode ONCE with
    * buildPqIndex and serve queries from the persisted codes with
    * searchPqIndex. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, numSubspaces: Int = 8,
             codebookSize: Int = 256, rerankFactor: Int = 4,
             maxTrainVectors: Int = 262144,
             codebooks: Option[DataFrame] = None): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val q = prepared(queries, idCol, vecCol)
    val qRows = collectQueries(q)
    require(qRows.nonEmpty, "pqTopK needs a non-empty query set")
    val dim = qRows.head._2.length
    val (cbs, starts) = codebooks match {
      case Some(df) =>
        val (cb, st) = pqCodebooksFromDf(df)
        require(st.last == dim, s"codebooks dim ${st.last} != corpus dim $dim")
        (cb, st)
      case None =>
        (trainPqCodebooks(c, dim, numSubspaces, codebookSize, maxTrainVectors),
          pqStarts(dim, numSubspaces))
    }
    val bcCb = c.sparkSession.sparkContext.broadcast(cbs)
    val codes = pqEncode(c, bcCb, starts)
    val cand = pqCandidates(codes, cbs, starts, qRows, k * rerankFactor)
    pqRerank(cand, c, q, k, k * rerankFactor)
  }

  /** Train the PQ codebooks ALONE and return them as the persistable
    * (subspace, codeword, vec) frame — the freeze/audit surface: persist
    * this once and everything downstream (encode, ADC scan, re-rank) is
    * deterministic arithmetic an external engine can replay from the
    * frozen frame. Feed it back through `pqTopK(..., codebooks =
    * Some(df))` or `encodePq`. Identical training (seeds, sample, fits)
    * to `buildPqIndex`, which returns the same frame inside its index. */
  def pqCodebooksDf(corpus: DataFrame, idCol: String, vecCol: String,
                    numSubspaces: Int = 8, codebookSize: Int = 256,
                    maxTrainVectors: Int = 262144): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val dim = c.select(size(col("v"))).head().getInt(0)
    cbsToDf(corpus.sparkSession,
      trainPqCodebooks(c, dim, numSubspaces, codebookSize, maxTrainVectors))
  }

  private def cbsToDf(spark: org.apache.spark.sql.SparkSession,
                      cbs: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (w, wi) => (j, wi, w.toSeq) }
    }.toSeq.toDF("subspace", "codeword", "vec")
  }

  /** Build a PERSISTED product-quantization index over a standing corpus —
    * train/encode once, serve queries forever (and encode new batches
    * incrementally): the 100 TB ingestion shape, matching the incremental
    * dedup operators. `codebooks` is (subspace, codeword, vec) —
    * m·codebookSize small rows; `codes` is (id, code BINARY) — m BYTES per
    * corpus vector, the 64× compression that makes a billion-vector index
    * storable and memory-resident. Both are plain DataFrames: persist with
    * `PqIndex.save`, reload with `PqIndex.load` (parquet), or write them
    * to any table format. */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   numSubspaces: Int = 8, codebookSize: Int = 256,
                   maxTrainVectors: Int = 262144,
                   opq: Boolean = false): PqIndex = {
    if (opq) {
      // FAISS OPQMatrix + IndexPQ composition (r17, closing the matrix:
      // IVF-PQ carried OPQ since r16): train the rotation on the raw
      // corpus, build codebooks + codes in ROTATED space, and carry the
      // frame in the index so save/load/append/ingestStream/serve rotate
      // automatically — identical contract to the IVF-PQ flavor. Flat
      // PQ + OPQ is the right shape for SMALL corpora where coarse
      // lists don't pay their probe overhead (SCALE.md).
      val rot = opqRotationDf(corpus, idCol, vecCol, numSubspaces,
        codebookSize)
      val rotated = rotateVectors(corpus, rot, idCol, vecCol)
      return buildPqIndex(rotated, idCol, vecCol, numSubspaces,
        codebookSize, maxTrainVectors).copy(rotation = Some(rot))
    }
    val c = prepared(corpus, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = c.select(size(col("v"))).head().getInt(0)
    val cbs = trainPqCodebooks(c, dim, numSubspaces, codebookSize, maxTrainVectors)
    val starts = pqStarts(dim, numSubspaces)
    val bcCb = spark.sparkContext.broadcast(cbs)
    PqIndex(cbsToDf(spark, cbs), pqEncode(c, bcCb, starts).toDF("id", "code"))
  }

  /** Encode a NEW batch of vectors against a standing index's codebooks —
    * the incremental-ingestion half: append the result to the index's
    * `codes` table; no retraining, no touch of the existing corpus. */
  def encodePq(codebooks: DataFrame, df: DataFrame, idCol: String,
               vecCol: String): DataFrame = {
    val (cbs, starts) = pqCodebooksFromDf(codebooks)
    encodePqPrepared(cbs, starts, df, idCol, vecCol)
  }

  /** [[encodePq]] against ALREADY-COLLECTED codebooks — the streaming
    * ingest path resolves the frozen quantizer once and encodes every
    * micro-batch against it (no per-batch codebook scan/collect). */
  private[operators] def encodePqPrepared(cbs: Array[Array[Array[Double]]],
                                          starts: Array[Int], df: DataFrame,
                                          idCol: String,
                                          vecCol: String): DataFrame = {
    val c = prepared(df, idCol, vecCol)
    val bcCb = df.sparkSession.sparkContext.broadcast(cbs)
    pqEncode(c, bcCb, starts).toDF("id", "code")
  }

  /** [[encodeIvfPq]] against ALREADY-COLLECTED quantizer state — the
    * incremental/streaming ingest counterpart of [[encodePqPrepared]]. */
  private[operators] def encodeIvfPqPrepared(
      centArr: Array[(Long, Array[Double])],
      cbs: Array[Array[Array[Double]]], starts: Array[Int], df: DataFrame,
      idCol: String, vecCol: String, byResidual: Boolean): DataFrame =
    ivfAssignEncode(prepared(df, idCol, vecCol), centArr, cbs, starts,
      byResidual)

  /** Collect a persisted centroid frame to the (sorted) in-memory layout
    * the encode/serve kernels index by cent_id. */
  private[operators] def collectCentroidArr(
      centroids: DataFrame): Array[(Long, Array[Double])] = {
    val arr = centroids
      .select(col("cent_id").cast("long"), col("cv").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(arr.nonEmpty, "empty centroids frame")
    arr
  }

  /** ADC search over a persisted PQ index: the corpus is touched ONLY to
    * re-rank the ≤ |Q|·k·rerankFactor candidates (an equi-join on id —
    * with Bloom/zone-map sidecars that read is a point lookup, not a
    * scan). Same output contract as pqTopK. */
  def searchPqIndex(index: PqIndex, corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    rerankFactor: Int = 4,
                    allowed: Option[DataFrame] = None): DataFrame = {
    import index.codes.sparkSession.implicits._
    // a rotated index serves RAW corpus/query frames: both sides rotate
    // here against the index's persisted frame (searchIvfPqIndex's
    // contract, shared) — orthogonality makes the rotated-space cosines
    // the original ones
    val (corpusEff, queriesEff) = index.rotation match {
      case Some(rot) => (rotateVectors(corpus, rot, idCol, vecCol),
        rotateVectors(queries, rot, idCol, vecCol))
      case None => (corpus, queries)
    }
    val (cbs, starts) = pqCodebooksFromDf(index.codebooks)
    // FAISS IDSelector semantics, shared with searchIvfPqIndex: the
    // allowed-id set semi-joins the codes BEFORE ADC — disallowed codes
    // are never scored (SQ8 indexes serve through this same path)
    val codesBase = allowed match {
      case Some(a) => index.codes.join(
        a.select(col(a.columns.head).cast("long").as("id")).distinct(),
        Seq("id"), "left_semi")
      case None => index.codes
    }
    val codes = codesBase
      .select(col("id").cast("long"), col("code")).as[(Long, Array[Byte])]
    val c = prepared(corpusEff, idCol, vecCol)
    val q = prepared(queriesEff, idCol, vecCol)
    val qRows = collectQueries(q)
    require(qRows.nonEmpty, "searchPqIndex needs a non-empty query set")
    require(qRows.head._2.length == starts.last,
      s"query dim ${qRows.head._2.length} != index dim ${starts.last}")
    val cand = pqCandidates(codes, cbs, starts, qRows, k * rerankFactor)
    pqRerank(cand, c, q, k, k * rerankFactor)
  }

  /** Scalar-quantization (SQ8) codebooks: ONE linear byte quantizer per
    * DIMENSION — codeword w of dimension j decodes to
    * `min_j + w·(max_j−min_j)/(levels−1)`, a FAISS-STYLE per-dimension
    * uniform scalar quantizer. (Not bit-compatible with FAISS QT_8bit,
    * which decodes w to vmin + (w+0.5)/256·vdiff — a half-step-offset
    * midrise grid; this one is midtread with codewords AT the exact range
    * endpoints, so min/max reconstruct losslessly. Same storage, same
    * asymptotics, no code-level interop.) Returned as the SAME (subspace, codeword, vec)
    * frame PQ uses, with dim ONE-element subspaces — so the entire
    * PqIndex lifecycle (save/load/append/delete/compact) and the ADC
    * serve path (`searchPqIndex`) apply UNCHANGED; only the training
    * differs, and it is a deterministic per-dimension min/max aggregate
    * (map-side-combined to dim rows before the shuffle — corpus-size
    * independent), not k-means. That determinism makes SQ8 the one
    * quantized family whose DuckDB oracle re-derives the QUANTIZER
    * ITSELF from scratch — no frozen frame anywhere in its gate.
    * Storage: dim bytes/vector (64 B at dim 64 ≈ 0.24× a float32
    * corpus) — the recall-vs-compression middle ground between PQ
    * (m bytes) and raw; per-dim resolution of 256 levels keeps
    * quantization error (and thus ADC ranking error) far below PQ's.
    * The stats collect is `dim` rows — bounded by the embedding
    * dimension, same class as the centroid collects. */
  def sqCodebooksDf(corpus: DataFrame, idCol: String, vecCol: String,
                    codebookSize: Int = 256): DataFrame = {
    require(codebookSize >= 2 && codebookSize <= 256,
      s"codebookSize must be in [2, 256] (codes are byte-encoded), got $codebookSize")
    val c = prepared(corpus, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val stats = c.select(posexplode(col("v"))).toDF("j", "x")
      .groupBy(col("j")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(stats.nonEmpty, "empty corpus")
    // Only the dim stats rows are driver-local and the codewords are
    // exploded in Spark: a driver-local dim·codebookSize frame ships
    // inside each task that reads it (over 1 MiB at dim 64). Degenerate
    // dimensions (min == max) are fine: step = 0, every codeword decodes
    // to the constant, argmin ties -> codeword 0.
    stats.toSeq.toDF("j", "mn", "mx")
      .select(col("j").as("subspace"), col("mn"),
        ((col("mx") - col("mn")) / lit((codebookSize - 1).toDouble)).as("step"),
        explode(sequence(lit(0), lit(codebookSize - 1))).as("codeword"))
      .select(col("subspace"), col("codeword"),
        array(col("mn") + col("codeword").cast("double") * col("step")).as("vec"))
  }

  /** Build a persisted SQ8 index over a standing corpus — per-dimension
    * min/max scanned once, every vector byte-encoded once, serve forever
    * with `searchPqIndex`. Returns a [[PqIndex]] (SQ8 IS PQ with dim
    * one-element linear codebooks), so incremental ingest
    * ([[PqIndex.append]] — codes are pure functions of the frozen
    * min/max, appended batches land as their own partition), tombstone
    * deletes ([[PqIndex.delete]]) and compaction all come from the one
    * shared lifecycle. Like FAISS, the quantizer freezes at build:
    * appended batches are encoded against the BUILD corpus's ranges
    * (out-of-range values clamp to the nearest codeword — argmin encode
    * does that naturally). */
  def buildSqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   codebookSize: Int = 256): PqIndex = {
    val cb = sqCodebooksDf(corpus, idCol, vecCol, codebookSize)
    PqIndex(cb, encodePq(cb, corpus, idCol, vecCol))
  }

  /** Build a persisted IVF-PQ index: k-means centroids partition the
    * corpus into inverted lists AND per-subspace PQ codebooks compress
    * each vector to m bytes — the layout that serves billion-vector
    * corpora (FAISS IndexIVFPQ; codes here encode the raw vectors, not
    * residuals — the simpler variant whose accuracy the exact re-rank
    * recovers). Both trainings run on the same deterministic hash-sample.
    * Persist/reload via IvfPqIndex.save/load.
    *
    * Default knobs: `numCentroids = 0` selects AUTO-C = clamp(⌈8·√N⌉,
    * 16, 16384) — the FAISS-guideline shape (C between √N and 16√N). At a
    * FIXED scan fraction nProbe/C, finer lists strictly improve recall
    * (measured on random sf0.01 embeddings, N=500, 25% scan:
    * C=16→0.55, 32→0.67, 64→0.72, 96→0.81, 128→0.855, 179(auto)→0.915
    * recall@10), so prefer raising numCentroids over nProbe. The 16384
    * auto cap reflects this Lloyd-iteration trainer's O(C·sample·dim)
    * cost (770 s measured AT the cap — SCALE.md); past it, train the
    * coarse codebook with [[hierarchicalCentroidsDf]] (two-level,
    * ~2·√C/C of the flat cost) and pass the frame via `centroids`.
    *
    * `byResidual = true` is the FAISS IndexIVFPQ default encoding: the PQ
    * codebooks train on (and the codes quantize) the RESIDUAL v − c_list
    * instead of v — the coarse quantizer has already explained the
    * centroid-scale structure, so the m bytes spend their 256 levels per
    * subspace on the fine detail around each centroid. Measurably higher
    * recall at the identical scan fraction and bytes (gated + evidence);
    * serve pays the residual ADC terms per probed list
    * (lazily-built per-list LUTs — FAISS's use_precomputed_table=0 mode,
    * so nothing C-sized is materialized up front). */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      numCentroids: Int = 0, numSubspaces: Int = 8,
                      codebookSize: Int = 256,
                      maxTrainVectors: Int = 262144,
                      byResidual: Boolean = false,
                      centroids: Option[DataFrame] = None,
                      opq: Boolean = false): IvfPqIndex = {
    if (opq) {
      // FAISS IndexPreTransform composition, first-class: train the
      // rotation on the raw corpus, build EVERYTHING (coarse quantizer,
      // codebooks, codes) in rotated space, and carry the frame in the
      // index so save/load/append/ingestStream/serve rotate
      // automatically. A caller-provided `centroids` frame must already
      // be in rotated space (it came from a prior rotated build).
      val rot = opqRotationDf(corpus, idCol, vecCol, numSubspaces,
        codebookSize)
      val rotated = rotateVectors(corpus, rot, idCol, vecCol)
      return buildIvfPqIndex(rotated, idCol, vecCol, numCentroids,
        numSubspaces, codebookSize, maxTrainVectors, byResidual, centroids)
        .copy(rotation = Some(rot))
    }
    val c = prepared(corpus, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = c.select(size(col("v"))).head().getInt(0)
    // 0 = auto-C (8·√N rule); the count is memoized with hashSample's
    val lists =
      if (numCentroids > 0) numCentroids else autoNumCentroids(memoizedCount(c))
    // ONE byte-budgeted collected hash-sample feeds both trainings
    // (coarse centroids + codebooks): no second corpus scan, no second
    // sample derivation — and both fits run DRIVER-LOCAL on it
    // ([[localLloydPar]]: one collect job instead of MLlib's ~25
    // scheduler-bound jobs per fit; the serve/oracle contract depends
    // only on the frozen frames, never on the trainer). A
    // caller-provided centroids frame (e.g. [[hierarchicalCentroidsDf]],
    // or a frozen frame from an earlier build) skips the coarse fit
    // entirely — the sample then feeds only the codebook training.
    val x = collectTrainSample(c, dim, maxTrainVectors)
    val centArr = centroids match {
      case Some(df) =>
        val arr = df
          .select(col("cent_id").cast("long"), col("cv").cast("array<double>"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        require(arr.nonEmpty, "empty centroids frame")
        arr
      case None =>
        localLloydPar(x, math.min(lists, math.max(1, x.length)),
            iters = 10, seed = 7L)
          .zipWithIndex.map { case (cv, i) => (i.toLong, cv) }
    }
    // residual mode trains the codebooks on the sample's residuals
    // against the coarse centers (FAISS order: coarse first, then PQ
    // on residuals — same cosine-argmax assignment as the encode
    // kernel); raw mode trains them on the sample as-is
    val cbTrain = if (byResidual) residualsOfLocal(x, centArr) else x
    val cbs = trainPqCodebooksLocal(cbTrain, dim, numSubspaces, codebookSize)
    val starts = pqStarts(dim, numSubspaces)
    val cbDf = cbsToDf(spark, cbs)
    val centsDf = centArr.toSeq
      .map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cent_id", "cv")
    // FUSED list assignment + PQ encode: one narrow pass over the corpus
    // computes the nearest-centroid list (argmax cosine, ties -> lowest
    // cent_id; an all-NaN row from a zero-norm vector keeps list 0) and
    // the code together. The previous crossJoin(broadcast(centroids)) +
    // per-id window pushed N·C rows through a sort (715M at sf10 with
    // auto-C) and then JOINED two corpus-sized frames — this is the FAISS
    // add() loop instead: broadcast centroids, row-local argmax, no
    // corpus shuffle at all. (Kernel shared with encodeIvfPq so
    // incremental ingest can never drift from the build.)
    val codes = ivfAssignEncode(c, centArr, cbs, starts, byResidual)
    IvfPqIndex(centsDf, cbDf, codes, byResidual)
  }

  /** TRAINING-side residuals, driver-local: each sample vector minus its
    * nearest centroid (same argmax-cosine semantics as the fused encode
    * kernel: strict >, ties and all-NaN rows keep the lowest index).
    * Training detail only — the codebooks it produces are frozen
    * artifacts, so this needs no SQL replica; the encode/serve kernels
    * are where bit-exactness is pinned. */
  private def residualsOfLocal(x: Array[Array[Double]],
                               cents: Array[(Long, Array[Double])]): Array[Array[Double]] = {
    val cnrms = cents.map { case (_, cv) =>
      var s = 0.0; var i = 0
      while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
      math.sqrt(s)
    }
    x.map { v =>
      var nv = 0.0
      var i = 0
      while (i < v.length) { nv += v(i) * v(i); i += 1 }
      val nrm = math.sqrt(nv)
      def csim(ci: Int): Double = {
        val cv = cents(ci)._2
        val n = math.min(v.length, cv.length)
        var s = 0.0; var j = 0
        while (j < n) { s += v(j) * cv(j); j += 1 }
        s / (nrm * cnrms(ci))
      }
      var best = 0
      var bestSim = csim(0)
      var ci = 1
      while (ci < cents.length) {
        val s = csim(ci)
        if (s > bestSim) { bestSim = s; best = ci }
        ci += 1
      }
      val cv = cents(best)._2
      val rv = new Array[Double](v.length)
      i = 0
      while (i < v.length) { rv(i) = v(i) - cv(i); i += 1 }
      rv
    }
  }

  /** Build an IVF-SQ8 index: coarse k-means inverted lists bound WHICH
    * codes a query scores, per-dimension linear byte codes bound the
    * BYTES per code — FAISS IndexIVFScalarQuantizer, the fourth cell of
    * the {flat, IVF} × {PQ, SQ8} matrix. Returned as an [[IvfPqIndex]]
    * (SQ8 codebooks ARE the PQ frame with dim one-element subspaces), so
    * save/load/append/delete/compact/ingestStream and `searchIvfPqIndex`
    * all apply unchanged, and the codes flow through the same fused
    * assign+encode kernel as IVF-PQ (incremental ingest can never drift
    * from the build). The coarse quantizer trains on the deterministic
    * hash-sample (k-means — frozen for the oracle, exactly IVF-PQ's
    * split); the scalar quantizer is the per-dim min/max aggregate over
    * the FULL corpus — deterministic, so the oracle re-derives that half
    * from scratch. Storage: dim bytes/vector + the √N-share centroid
    * table (~0.27× raw at dim 64) with probe-bounded serving — the shape
    * for corpora that can afford SQ8's near-lossless ranking but not a
    * full corpus scan per query. */
  def buildIvfSqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      numCentroids: Int = 0, codebookSize: Int = 256,
                      maxTrainVectors: Int = 262144,
                      centroids: Option[DataFrame] = None): IvfPqIndex = {
    val c = prepared(corpus, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val lists =
      if (numCentroids > 0) numCentroids else autoNumCentroids(memoizedCount(c))
    val centArr = centroids match {
      case Some(df) =>
        val arr = df
          .select(col("cent_id").cast("long"), col("cv").cast("array<double>"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        require(arr.nonEmpty, "empty centroids frame")
        arr
      case None =>
        val dim = c.select(size(col("v"))).head().getInt(0)
        val x = collectTrainSample(c, dim, maxTrainVectors)
        localLloydPar(x, math.min(lists, math.max(1, x.length)),
            iters = 10, seed = 7L)
          .zipWithIndex.map { case (cv, i) => (i.toLong, cv) }
    }
    val cbDf = sqCodebooksDf(corpus, idCol, vecCol, codebookSize)
    val (cbs, starts) = pqCodebooksFromDf(cbDf)
    val centsDf = centArr.toSeq
      .map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cent_id", "cv")
    IvfPqIndex(centsDf, cbDf, ivfAssignEncode(c, centArr, cbs, starts))
  }

  /** Assign+encode a NEW batch of vectors against a standing IVF-PQ
    * index's frozen centroids and codebooks — the incremental-ingestion
    * half ([[IvfPqIndex.append]]): both the list assignment and the code
    * are pure per-vector functions of the frozen quantizer pair, so the
    * result rows are identical to what a from-scratch build with these
    * quantizers would emit for the same vectors (same fused kernel —
    * spec-pinned). Output: (id, list_id, code). */
  def encodeIvfPq(centroids: DataFrame, codebooks: DataFrame, df: DataFrame,
                  idCol: String, vecCol: String,
                  byResidual: Boolean = false): DataFrame = {
    val (cbs, starts) = pqCodebooksFromDf(codebooks)
    val centArr = centroids
      .select(col("cent_id").cast("long"), col("cv").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(centArr.nonEmpty, "empty centroids frame")
    ivfAssignEncode(prepared(df, idCol, vecCol), centArr, cbs, starts,
      byResidual)
  }

  /** THE fused assign+encode kernel (build + incremental ingest): argmax
    * cosine over the broadcast centroids — strict > on an ascending scan,
    * so ties keep the LOWEST cent_id and an all-NaN row (zero-norm
    * vector) keeps the first list, matching the SQL oracle's (csim DESC,
    * cent_id) window — plus encodeOne's per-subspace nearest codeword,
    * one narrow pass, no corpus shuffle. `cents` must be sorted by
    * cent_id (the build's array index == cent_id layout). With
    * `byResidual` the code quantizes (v − assigned centroid) — computed
    * elementwise BEFORE encodeOne, so the per-coordinate double is
    * exactly the SQL replica's left-associative `v[i] − cv[i] − cw[i]`. */
  private def ivfAssignEncode(c: DataFrame, cents: Array[(Long, Array[Double])],
                              cbs: Array[Array[Array[Double]]],
                              starts: Array[Int],
                              byResidual: Boolean = false): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cbs)
    val bcCents = spark.sparkContext.broadcast(cents)
    c.select(col("id").cast("long"), col("v"), col("nrm"))
      .as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        val cbsv = bcCb.value
        val cs = bcCents.value
        val cnrms = cs.map { case (_, cv) =>
          var s = 0.0; var i = 0
          while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
          math.sqrt(s)
        }
        def csim(v: Array[Double], nrm: Double, ci: Int): Double = {
          val cv = cs(ci)._2
          val n = math.min(v.length, cv.length)
          var s = 0.0; var i = 0
          while (i < n) { s += v(i) * cv(i); i += 1 }
          s / (nrm * cnrms(ci))
        }
        it.map { case (id, vSeq, nrm) =>
          val v = vSeq.toArray
          var best = 0
          var bestSim = csim(v, nrm, 0)
          var ci = 1
          while (ci < cs.length) {
            val s = csim(v, nrm, ci)
            if (s > bestSim) { bestSim = s; best = ci }
            ci += 1
          }
          val enc =
            if (byResidual) {
              val cv = cs(best)._2
              val rv = new Array[Double](v.length)
              var i = 0
              while (i < v.length) { rv(i) = v(i) - cv(i); i += 1 }
              encodeOne(rv, cbsv, starts)
            } else encodeOne(v, cbsv, starts)
          (id, cs(best)._1, enc)
        }
      }.toDF("id", "list_id", "code")
  }

  /** AUTO-C: clamp(⌈8·√N⌉, 16, 16384) inverted lists — see
    * [[buildIvfPqIndex]] for the measured recall ladder behind the rule. */
  def autoNumCentroids(n: Long): Int =
    math.max(16, math.min(16384, math.ceil(8.0 * math.sqrt(math.max(0L, n).toDouble)).toInt))

  /** Probe-limited ADC search over a persisted IVF-PQ index: each query
    * scores only its nProbe nearest lists' codes (~nProbe/C of the
    * corpus), then the top candidates re-rank against true vectors —
    * same output contract as pqTopK/searchPqIndex.
    *
    * `nProbe = 0` (default) selects AUTO-nProbe = ⌈C/4⌉ — a 25% scan
    * fraction, the committed recall-first operating point: with auto-C
    * lists this measures recall@10 = 0.915 on the sf0.01 evidence corpus
    * (vs 0.72 for the previous fixed 64/16). Serving stacks that prefer
    * latency over recall pass an explicit small nProbe (FAISS-style
    * 8–64 probes of thousands of lists). */
  def searchIvfPqIndex(index: IvfPqIndex, corpus: DataFrame,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nProbe: Int = 0,
                       rerankFactor: Int = 4,
                       allowed: Option[DataFrame] = None): DataFrame = {
    val c = prepared(rotatedForIndex(index, corpus, idCol, vecCol), idCol, vecCol)
    val q = prepared(rotatedForIndex(index, queries, idCol, vecCol), idCol, vecCol)
    val r = k * rerankFactor
    val cand = ivfAdcCandidates(index, q, nProbe, r,
      rangeCut = None, allowed = allowed,
      emptyMsg = "searchIvfPqIndex needs a non-empty query set")
    pqRerank(cand, c, q, k, r)
  }

  /** FAISS `range_search` on the persisted IVF-PQ index: every neighbor
    * whose EXACT cosine >= `radius`, drawn from probed-list candidates
    * whose ADC approximation scores >= radius − `margin` (the margin
    * absorbs quantization error at the boundary; like FAISS, a true
    * neighbor whose ADC estimate falls below the cut in every probed
    * list is missed — the recall knobs are nProbe and margin). Output
    * (q_id, n_id, rank, cosine), rank dense per query by cosine,
    * UNBOUNDED row count per query — there is no top-k. Scale shape is
    * the serve path's: probes bound which lists are scanned, the
    * ADC kernel emits only above-cut rows (no per-query heap, so the
    * emitted set is output-sized, not scan-sized), and the exact re-rank
    * joins only the emitted candidates. `allowed` pre-filters candidates
    * as in [[searchIvfPqIndex]]. */
  def rangeSearchIvfPqIndex(index: IvfPqIndex, corpus: DataFrame,
                            queries: DataFrame, idCol: String, vecCol: String,
                            radius: Double, margin: Double = 0.1,
                            nProbe: Int = 0,
                            allowed: Option[DataFrame] = None): DataFrame = {
    val c = prepared(rotatedForIndex(index, corpus, idCol, vecCol), idCol, vecCol)
    val q = prepared(rotatedForIndex(index, queries, idCol, vecCol), idCol, vecCol)
    val cand = ivfAdcCandidates(index, q, nProbe, r = 0,
      rangeCut = Some(radius - margin), allowed = allowed,
      emptyMsg = "rangeSearchIvfPqIndex needs a non-empty query set")
    val qf = q.select(col("id").cast("long").as("q_id"),
      col("v").as("q_v"), col("nrm").as("q_n"))
    val rescored = cand.select(col("q_id"), col("n_id"))
      .join(c.select(col("id").cast("long").as("n_id"),
        col("v").as("c_v"), col("nrm").as("c_n")), "n_id")
      .join(broadcast(qf), "q_id")
      .withColumn("cosine", dot(col("q_v"), col("c_v")) / (col("q_n") * col("c_n")))
      .filter(col("cosine") >= lit(radius))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    rescored.withColumn("rank", row_number().over(w))
      .select(col("q_id"), col("n_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** A rotated index serves RAW corpus/query frames: both sides rotate
    * here against the index's persisted frame (r16 — callers can no
    * longer probe rotated codes with un-rotated queries by mistake);
    * orthogonality makes the rotated-space cosines the original ones. */
  private def rotatedForIndex(index: IvfPqIndex, df: DataFrame,
                              idCol: String, vecCol: String): DataFrame =
    index.rotation match {
      case Some(rot) => rotateVectors(df, rot, idCol, vecCol)
      case None => df
    }

  /** The shared probe-and-ADC-score front half of the IVF-PQ serves:
    * select effNProbe lists per query (auto = ≤25% scan), pair each
    * query with the probed lists' codes (optionally pre-filtered to the
    * `allowed` id set — FAISS IDSelector semantics, applied BEFORE ADC so
    * disallowed codes are never scored), and run the raw or residual ADC
    * kernel. rangeCut = None → per-query top-`r` heaps (the k-NN serve);
    * Some(cut) → every candidate scoring >= cut (the range serve). */
  private def ivfAdcCandidates(index: IvfPqIndex, q: DataFrame,
                               nProbe: Int, r: Int,
                               rangeCut: Option[Double],
                               allowed: Option[DataFrame],
                               emptyMsg: String): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    // The three bounded driver pulls — query rows, codebooks, centroids —
    // are independent jobs; overlap them (IndexRoot.inParallel).
    // The centroid table (bounded, C ≤ 16384) is collected ONCE and feeds
    // the probe broadcast, the auto-nProbe sizing, and the residual ADC's
    // center array — the previous shape scanned/collected it three times
    // (broadcast subtree + a count() job + a collect for residuals).
    lazy val qRows = collectQueries(q)
    lazy val cb = pqCodebooksFromDf(index.codebooks)
    lazy val centRows = collectCentroidArr(index.centroids)
    IndexRoot.inParallel(() => qRows, () => cb, () => centRows)
    require(qRows.nonEmpty, emptyMsg)
    val (cbs, starts) = cb
    val cn = centRows.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cent_id", "cv")
      .withColumn("cnrm", graft.operators.Dedup.l2norm(col("cv")))
    // 0 = auto-nProbe (≤25% scan fraction, floor so C/4 never rounds the
    // fraction above a quarter); the centroid table is m rows
    val effNProbe =
      if (nProbe > 0) nProbe
      else math.max(1, centRows.length / 4)
    val w1 = Window.partitionBy(col("id")).orderBy(col("csim").desc, col("cent_id"))
    val probes = q.crossJoin(broadcast(cn))
      .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= effNProbe)
      .select(col("cent_id").as("list_id"), col("id").cast("long").as("q_id"))
    val codesEff = allowed match {
      case Some(a) =>
        val ids = a.select(col(a.columns.head).cast("long").as("id")).distinct()
        index.codes.join(ids, Seq("id"), "left_semi")
      case None => index.codes
    }
    if (!index.byResidual) {
      val pairs = codesEff
        .select(col("list_id"), col("id").cast("long").as("n_id"), col("code"))
        .join(probes, "list_id")
        .select(col("q_id"), col("n_id"), col("code"))
        .as[(Long, Long, Array[Byte])]
      pqCandidatesPaired(pairs, cbs, starts, qRows, r, rangeCut)
    } else {
      // residual codes reconstruct to c_list + decode(code): the ADC
      // terms need the list, so the pairs carry it through
      val pairs = codesEff
        .select(col("list_id").cast("long"), col("id").cast("long").as("n_id"),
          col("code"))
        .join(probes.select(col("list_id").cast("long").as("list_id"),
          col("q_id")), "list_id")
        .select(col("q_id"), col("list_id"), col("n_id"), col("code"))
        .as[(Long, Long, Long, Array[Byte])]
      pqCandidatesPairedResidual(pairs, cbs, starts, qRows, r, centRows, rangeCut)
    }
  }

  // ---- PQ internals (shared by pqTopK and the persisted-index path) ----

  private def collectQueries(q: DataFrame): Array[(Long, Array[Double], Double)] =
    q.select(col("id").cast("long"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))

  /** Subspace j covers [starts(j), starts(j+1)) — remainder spread left. */
  private def pqStarts(dim: Int, m: Int): Array[Int] =
    (0 to m).map(j => j * dim / m).toArray

  /** Per-subspace k-means codebooks on a deterministic hash-sample, cached
    * once for the m fits. The m fits run CONCURRENTLY (Spark schedules jobs
    * from multiple threads fine) with random init — per-fit cost is
    * dominated by fixed per-job overhead at any sane sample size, so
    * sequential k-means|| fits would pay ~m·15 serial job launches for no
    * quality gain (random init + 10 Lloyd iterations is the standard PQ
    * codebook recipe). Seeded per subspace → deterministic. */
  /** Deterministic hash sample of ≤ maxTrainVectors rows — THE training
    * bound shared by every trainer here (PQ codebooks, IVF centroids,
    * ivfTopKKMeans). The hash is xxhash64 over the id column AS-IS, so
    * string/binary/struct ids sample correctly (the previous cast-to-long
    * Knuth hash silently nulled non-numeric ids, filtering the training
    * set to empty once the corpus crossed the threshold). One count()
    * sizes the threshold, memoized per canonicalized plan for the session:
    * trainers are routinely stacked on the same corpus (pqTopK +
    * ivfTopKKMeans + buildIvfPqIndex in one pipeline), and the count only
    * sizes the sampling ratio — on an immutable training corpus reuse is
    * exact, and even a stale count would merely shift the sample size,
    * never correctness. */
  private def memoizedCount(c: DataFrame): Long = PlanStats.sizingCount(c)

  private def hashSample(c: DataFrame, maxTrainVectors: Int,
                         spread: Boolean = true): DataFrame = {
    val n = memoizedCount(c)
    val sampled =
      if (n <= maxTrainVectors) c
      else {
        val hkey = pmod(xxhash64(col("id")), lit(4294967296L))
        val threshold = math.ceil(4294967296.0 * maxTrainVectors / n).toLong
        c.filter(hkey < lit(threshold))
      }
    // spread=false: the caller collects the sample (driver-local trainer)
    // — no task fan-out needed, so skip the repartition shuffle entirely
    if (!spread) return sampled
    // A bounded sample scanned from a handful of parquet files often lands
    // in ONE partition — and then every MLlib Lloyd iteration runs as a
    // single task (measured: the sf3 coarse fit was 10 single-threaded
    // jobs, ~90 s of a ~96 s build). Spread the sample by id hash
    // (deterministic, rerun-stable); partition count scales with the
    // sample (~4k rows per task) so small fits don't drown in per-task
    // dispatch — 10 Lloyd iterations × m subspaces × 32 near-empty tasks
    // measurably regressed the sf1 PQ gates when this was a flat
    // defaultParallelism.
    val parts = math.max(1L, math.min(
      c.sparkSession.sparkContext.defaultParallelism.toLong,
      math.min(n, maxTrainVectors.toLong) / 4096L)).toInt
    sampled.repartition(parts, col("id"))
  }

  private def trainPqCodebooks(c: DataFrame, dim: Int, m: Int,
                               codebookSize: Int,
                               maxTrainVectors: Int): Array[Array[Array[Double]]] =
    trainPqCodebooksLocal(collectTrainSample(c, dim, maxTrainVectors),
      dim, m, codebookSize)

  /** Per-subspace PQ codebook training on the collected byte-budgeted
    * sample: m seeded [[localLloydPar]] fits over the subspace slices,
    * concurrent across a bounded pool (each fit is
    * iters·ks·|sample|·subLen flops — in-memory work, no Spark jobs at
    * all; the distributed MLlib fits this replaces spent their time in
    * ~25 scheduler-bound jobs per fit). Deterministic: seeded init,
    * fixed-chunk FP merge order. */
  private def trainPqCodebooksLocal(x: Array[Array[Double]], dim: Int,
                                    m: Int,
                                    codebookSize: Int): Array[Array[Array[Double]]] = {
    require(dim >= m, s"dim $dim < numSubspaces $m")
    require(codebookSize >= 1 && codebookSize <= 256,
      s"codebookSize must be in [1, 256] (codes are byte-encoded), got $codebookSize")
    val starts = pqStarts(dim, m)
    val ks = math.min(codebookSize, x.length)
    require(ks >= 1, "empty corpus")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(m, 8))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // cap each fit's inner Lloyd pool so the m concurrent fits cannot
    // oversubscribe to ~m×cores threads during the hottest training
    // phase (r17 ADVICE); results are unchanged (fixed-chunk merge)
    val innerThreads = math.max(1,
      Runtime.getRuntime.availableProcessors() / math.min(m, 8))
    try Await.result(Future.sequence((0 until m).toSeq.map { j => Future {
      val len = starts(j + 1) - starts(j)
      val sub = x.map(v =>
        java.util.Arrays.copyOfRange(v, starts(j), starts(j) + len))
      val centers = localLloydPar(sub, ks, iters = 10, seed = 42L + j,
        maxThreads = innerThreads)
      // localLloydPar caps centers at the sample size; the persisted
      // frame and the flat ADC LUTs require a dense uniform 0..ks-1
      // layout, so pad with duplicates of center 0 — value-neutral by
      // construction: encodeOne's strict-< argmin keeps the LOWEST index
      // on ties (the SQL replica's (dist, w) order does the same), so a
      // duplicate at a higher codeword is never emitted in any code and
      // its LUT slots are never read.
      if (centers.length >= ks) centers
      else centers ++ Array.fill(ks - centers.length)(centers(0).clone())
    }}), Duration.Inf).toArray
    finally pool.shutdown()
  }

  /** Rebuild the in-memory codebook array (and subspace offsets) from the
    * persisted (subspace, codeword, vec) frame — m·ks small rows. */
  private[operators] def pqCodebooksFromDf(cbDf: DataFrame): (Array[Array[Array[Double]]], Array[Int]) = {
    val rows = cbDf.select(col("subspace").cast("int"), col("codeword").cast("int"),
        col("vec").cast("array<double>"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, "empty codebooks frame")
    val m = rows.map(_._1).max + 1
    val cbs = Array.tabulate(m) { j => rows.filter(_._1 == j).sortBy(_._2).map(_._3) }
    require(cbs.forall(_.nonEmpty), "codebooks frame missing a subspace")
    // ADC scan paths index flat LUTs as subspace*ks + codeword — a ragged
    // or sparse codebooks frame would silently address the wrong LUT slot
    val ks = cbs(0).length
    require(cbs.forall(_.length == ks),
      s"ragged codebooks frame: per-subspace sizes ${cbs.map(_.length).mkString(",")} (must be uniform)")
    (0 until m).foreach { j =>
      val cws = rows.filter(_._1 == j).map(_._2).sorted
      require(cws.sameElements(0 until ks),
        s"subspace $j codewords must be dense 0..${ks - 1}, got ${cws.take(8).mkString(",")}...")
    }
    val starts = cbs.map(_.head.length).scanLeft(0)(_ + _)
    (cbs, starts)
  }

  /** Nearest-codeword encoding: d doubles → m bytes per vector. */
  /** PQ-encode ONE vector: per subspace, the squared-L2-nearest codeword
    * (ties → lowest codeword). The single implementation shared by the
    * bulk/incremental encoders and the fused assign+encode pass in
    * buildIvfPqIndex — a drift here would make incremental codes disagree
    * with built codes (spec-pinned equal). */
  private def encodeOne(v: Array[Double], cbs: Array[Array[Array[Double]]],
                        starts: Array[Int]): Array[Byte] = {
    val mm = cbs.length
    val code = new Array[Byte](mm)
    var j = 0
    while (j < mm) {
      val off = starts(j)
      val cb = cbs(j)
      var best = 0; var bestD = Double.MaxValue
      var w = 0
      while (w < cb.length) {
        val cw = cb(w)
        var d = 0.0; var i = 0
        while (i < cw.length) {
          val diff = v(off + i) - cw(i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = w }
        w += 1
      }
      code(j) = best.toByte
      j += 1
    }
    code
  }

  private def pqEncode(c: DataFrame,
                       bcCb: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
                       starts: Array[Int]): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    val spark = c.sparkSession
    import spark.implicits._
    c.select(col("id").cast("long"), col("v")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cbs = bcCb.value
        it.map { case (id, vSeq) => (id, encodeOne(vSeq.toArray, cbs, starts)) }
      }
  }

  /** ADC scan: per-query LUTs (m·ks dot products each), m table adds per
    * corpus code, per-partition top-R heaps — the shuffle out of this is
    * at most |partitions|·|Q|·R rows. */
  private def pqCandidates(codes: org.apache.spark.sql.Dataset[(Long, Array[Byte])],
                           cbs: Array[Array[Array[Double]]], starts: Array[Int],
                           qRows: Array[(Long, Array[Double], Double)],
                           r: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cbs)
    val bcCn2 = spark.sparkContext.broadcast(PqAdc.norm2(cbs))
    val bcQ = spark.sparkContext.broadcast(qRows)
    codes.mapPartitions { it =>
      val cbsv = bcCb.value
      val cn2v = bcCn2.value
      val qs = bcQ.value
      val mm = cbsv.length
      val kks = cbsv(0).length
      val luts = PqAdc.dotLuts(cbsv, starts, qs)
      val heaps = PqAdc.newHeaps(qs.length)
      it.foreach { case (id, code) =>
        // all queries share the per-code table walk
        val approxDot = new Array[Double](qs.length)
        var n2 = 0.0
        var j = 0
        while (j < mm) {
          val w = code(j) & 0xff
          n2 += cn2v(j)(w)
          var qi = 0
          while (qi < qs.length) {
            approxDot(qi) += luts(qi)(j * kks + w)
            qi += 1
          }
          j += 1
        }
        val denomBase = math.sqrt(n2)
        var qi = 0
        while (qi < qs.length) {
          if (qs(qi)._1 != id && denomBase > 0)
            PqAdc.offer(heaps(qi), r, approxDot(qi) / (qs(qi)._3 * denomBase), id)
          qi += 1
        }
      }
      PqAdc.drain(heaps, qs)
    }.toDF("q_id", "n_id", "approx")
  }

  /** ADC scoring of PRE-PAIRED (q_id, n_id, code) rows — the IVF-PQ path,
    * where the list-probe join has already restricted which (query, code)
    * pairs exist. Shares PqAdc's LUT build and heap semantics with
    * pqCandidates so the two paths can never rank differently. */
  private def pqCandidatesPaired(pairs: org.apache.spark.sql.Dataset[(Long, Long, Array[Byte])],
                                 cbs: Array[Array[Array[Double]]], starts: Array[Int],
                                 qRows: Array[(Long, Array[Double], Double)],
                                 r: Int,
                                 rangeCut: Option[Double] = None): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cbs)
    val bcCn2 = spark.sparkContext.broadcast(PqAdc.norm2(cbs))
    val bcQ = spark.sparkContext.broadcast(qRows)
    pairs.mapPartitions { it =>
      val cbsv = bcCb.value
      val cn2v = bcCn2.value
      val qs = bcQ.value
      val mm = cbsv.length
      val kks = cbsv(0).length
      val qIdx = qs.iterator.zipWithIndex.map { case (qr, i) => (qr._1, i) }.toMap
      val luts = PqAdc.dotLuts(cbsv, starts, qs)
      val sink = PqAdc.newSink(qs, r, rangeCut)
      it.foreach { case (qid, id, code) =>
        val qi = qIdx(qid)
        if (qs(qi)._1 != id) {
          var s = 0.0
          var n2 = 0.0
          var j = 0
          while (j < mm) {
            val w = code(j) & 0xff
            n2 += cn2v(j)(w)
            s += luts(qi)(j * kks + w)
            j += 1
          }
          val denom = qs(qi)._3 * math.sqrt(n2)
          if (denom > 0) sink.offer(qi, s / denom, id)
        }
      }
      sink.drain()
    }.toDF("q_id", "n_id", "approx")
  }

  /** Residual-ADC scoring of probed (q_id, list_id, n_id, code) rows —
    * the byResidual serve path. The reconstruction is v̂ = c_list +
    * decode(code), so per (query, code):
    *   <q, v̂>  = <q, c_list> + Σ_j lut_q(j, w_j)            (adot)
    *   |v̂|²    = |c_list|²  + Σ_j (2·<c_list[sub j], cw> + |cw|²)  (n2)
    * The query LUTs are list-independent (subspaces are disjoint
    * coordinate blocks); the per-list cross terms are built LAZILY per
    * partition per list actually probed there (FAISS's
    * use_precomputed_table=0 mode — nothing C-sized materializes, each
    * list pays one m·ks·subLen pass amortized over all its codes in the
    * partition). Fold orders mirror the SQL replica exactly: ascending-j
    * left-associative sums, then `qc + Σ` and `cl2 + Σ` — candidate
    * selection near the top-R boundary depends on these doubles
    * bit-for-bit. Shares PqAdc's LUT build and heap tie-break with the
    * raw paths so no path can rank differently. */
  private def pqCandidatesPairedResidual(
      pairs: org.apache.spark.sql.Dataset[(Long, Long, Long, Array[Byte])],
      cbs: Array[Array[Array[Double]]], starts: Array[Int],
      qRows: Array[(Long, Array[Double], Double)], r: Int,
      cents: Array[(Long, Array[Double])],
      rangeCut: Option[Double] = None): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cbs)
    val bcCn2 = spark.sparkContext.broadcast(PqAdc.norm2(cbs))
    val bcQ = spark.sparkContext.broadcast(qRows)
    val bcCents = spark.sparkContext.broadcast(cents)
    pairs.mapPartitions { it =>
      val cbsv = bcCb.value
      val cn2v = bcCn2.value
      val qs = bcQ.value
      val cs = bcCents.value
      val mm = cbsv.length
      val kks = cbsv(0).length
      val qIdx = qs.iterator.zipWithIndex.map { case (qr, i) => (qr._1, i) }.toMap
      val cIdx = cs.iterator.zipWithIndex.map { case ((cid, _), i) => (cid, i) }.toMap
      val luts = PqAdc.dotLuts(cbsv, starts, qs)
      // |c_list|^2, ascending fold == list_dot_product(cv, cv)
      val cl2 = cs.map { case (_, cv) =>
        var s = 0.0; var i = 0
        while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
        s
      }
      // lazy per-list <q, c_list> rows (one per query)
      val qc = new Array[Array[Double]](cs.length)
      def qcFor(li: Int): Array[Double] = {
        if (qc(li) == null) {
          val cv = cs(li)._2
          qc(li) = qs.map { case (_, qv, _) =>
            val n = math.min(qv.length, cv.length)
            var s = 0.0; var i = 0
            while (i < n) { s += qv(i) * cv(i); i += 1 }
            s
          }
        }
        qc(li)
      }
      // lazy per-list cross LUT: u(j·ks+w) = 2·<c_list[sub j], cw> + |cw|²
      val ulut = new Array[Array[Double]](cs.length)
      def ulutFor(li: Int): Array[Double] = {
        if (ulut(li) == null) {
          val cv = cs(li)._2
          val u = new Array[Double](mm * kks)
          var j = 0
          while (j < mm) {
            val off = starts(j)
            var w = 0
            while (w < kks) {
              val cw = cbsv(j)(w)
              var s = 0.0; var i = 0
              while (i < cw.length) { s += cv(off + i) * cw(i); i += 1 }
              u(j * kks + w) = 2.0 * s + cn2v(j)(w)
              w += 1
            }
            j += 1
          }
          ulut(li) = u
        }
        ulut(li)
      }
      val sink = PqAdc.newSink(qs, r, rangeCut)
      it.foreach { case (qid, listId, id, code) =>
        val qi = qIdx(qid)
        if (qs(qi)._1 != id) {
          val li = cIdx(listId)
          val u = ulutFor(li)
          val lut = luts(qi)
          var s = 0.0
          var t = 0.0
          var j = 0
          while (j < mm) {
            val w = code(j) & 0xff
            s += lut(j * kks + w)
            t += u(j * kks + w)
            j += 1
          }
          val adot = qcFor(li)(qi) + s
          val n2rt = math.sqrt(cl2(li) + t)
          if (n2rt > 0) sink.offer(qi, adot / (qs(qi)._3 * n2rt), id)
        }
      }
      sink.drain()
    }.toDF("q_id", "n_id", "approx")
  }

  /** Executor-side ADC kernels shared VERBATIM by the full-scan
    * (pqCandidates) and probe-paired (pqCandidatesPaired) paths — one
    * implementation of the LUT build and of the heap tie-break, so a fix
    * to either can never make the two paths rank differently. */
  private object PqAdc extends Serializable {
    type Heap = scala.collection.mutable.PriorityQueue[(Double, Long)]

    /** Query-independent halves of the LUT: codeword squared norms. */
    def norm2(cbs: Array[Array[Array[Double]]]): Array[Array[Double]] =
      cbs.map(_.map { w =>
        var s = 0.0; var i = 0
        while (i < w.length) { s += w(i) * w(i); i += 1 }; s
      })

    /** Per-query dot-product LUTs: lut(qi)(j*ks + w) = <q_j, codeword w>. */
    def dotLuts(cbs: Array[Array[Array[Double]]], starts: Array[Int],
                qs: Array[(Long, Array[Double], Double)]): Array[Array[Double]] = {
      val mm = cbs.length
      val kks = cbs(0).length
      qs.map { case (_, qv, _) =>
        val lut = new Array[Double](mm * kks)
        var j = 0
        while (j < mm) {
          val off = starts(j)
          var w = 0
          while (w < kks) {
            val cw = cbs(j)(w)
            var s = 0.0; var i = 0
            while (i < cw.length) { s += qv(off + i) * cw(i); i += 1 }
            lut(j * kks + w) = s
            w += 1
          }
          j += 1
        }
        lut
      }
    }

    /** (score, id) min-heaps: head = worst retained candidate; equal
      * scores evict the larger id. */
    def newHeaps(nq: Int): Array[Heap] = Array.fill(nq)(
      scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2))))

    def offer(h: Heap, r: Int, score: Double, id: Long): Unit = {
      if (h.size < r) h.enqueue((score, id))
      else if (score > h.head._1 ||
               (score == h.head._1 && id < h.head._2)) {
        h.dequeue(); h.enqueue((score, id))
      }
    }

    def drain(heaps: Array[Heap],
              qs: Array[(Long, Array[Double], Double)]): Iterator[(Long, Long, Double)] =
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (s, id) => (qs(qi)._1, id, s) }
      }

    /** Candidate collector shared by the top-R (k-NN) and threshold
      * (range) serves — one call site in each kernel, so the two modes
      * can never score differently, only RETAIN differently. Top-R keeps
      * per-query heaps of size r; range keeps every candidate scoring >=
      * cut (output-sized buffers — a range scan has no a-priori bound,
      * and the emitted set is exactly what the exact re-rank will join). */
    sealed trait Sink {
      def offer(qi: Int, score: Double, id: Long): Unit
      def drain(): Iterator[(Long, Long, Double)]
    }

    def newSink(qs: Array[(Long, Array[Double], Double)], r: Int,
                rangeCut: Option[Double]): Sink = rangeCut match {
      case None =>
        new Sink {
          private val heaps = newHeaps(qs.length)
          def offer(qi: Int, score: Double, id: Long): Unit =
            PqAdc.offer(heaps(qi), r, score, id)
          def drain(): Iterator[(Long, Long, Double)] = PqAdc.drain(heaps, qs)
        }
      case Some(cut) =>
        new Sink {
          private val bufs = Array.fill(qs.length)(
            scala.collection.mutable.ArrayBuffer.empty[(Double, Long)])
          def offer(qi: Int, score: Double, id: Long): Unit =
            if (score >= cut) bufs(qi) += ((score, id))
          def drain(): Iterator[(Long, Long, Double)] =
            bufs.iterator.zipWithIndex.flatMap { case (b, qi) =>
              b.iterator.map { case (s, id) => (qs(qi)._1, id, s) }
            }
        }
    }
  }

  /** Global top-R per query over the per-partition candidates, then exact
    * re-rank against the true vectors (equi-joins, query side broadcast). */
  private def pqRerank(cand: DataFrame, c: DataFrame, q: DataFrame,
                       k: Int, r: Int): DataFrame = {
    val w0 = Window.partitionBy(col("q_id"))
      .orderBy(col("approx").desc, col("n_id"))
    val topCand = cand.withColumn("r0", row_number().over(w0))
      .filter(col("r0") <= r).select(col("q_id"), col("n_id"))
    val qf = q.select(col("id").cast("long").as("q_id"),
      col("v").as("q_v"), col("nrm").as("q_n"))
    val rescored = topCand
      .join(c.select(col("id").cast("long").as("n_id"),
        col("v").as("c_v"), col("nrm").as("c_n")), "n_id")
      .join(broadcast(qf), "q_id")
      .withColumn("cosine", dot(col("q_v"), col("c_v")) / (col("q_n") * col("c_n")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  private def ivfWithCentroids(c: DataFrame, queries: DataFrame, idCol: String,
                               vecCol: String, cents: DataFrame, k: Int,
                               nProbe: Int): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._

    def nearestCentroids(df: DataFrame, take: Int): DataFrame = {
      val scored = df.crossJoin(broadcast(cents))
        .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      val w = Window.partitionBy(col("id")).orderBy(col("csim").desc, col("cent_id"))
      scored.withColumn("crank", row_number().over(w))
        .filter(col("crank") <= take)
    }

    // CORPUS-side list assignment is a row-local fused argmax over the
    // broadcast centroid arrays (the buildIvfPqIndex shape): the
    // crossJoin+window form pushes N·C rows through a per-id sort — 64M
    // rows at sf10 with C=128, the exact pattern the fused IVF-PQ build
    // removed. Strict-> ascending scan == the window's (csim DESC,
    // cent_id ASC) tie-break, and the kernel's ascending dot/norm folds
    // are bit-identical to the declarative dot/l2norm, so the SQL oracle
    // replica is unchanged. Centroid collect is bounded (C <= thousands
    // — same class as the PQ codebook collect). QUERY-side probing keeps
    // the declarative window: |Q| is small and it needs top-nProbe, not
    // argmax.
    val centArr = cents
      .select(col("cent_id").cast("long"), col("cv").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .sortBy(_._1)
      .map { case (cid, cv) => (cid, cv.toArray) }
    val bcCents = spark.sparkContext.broadcast(centArr)
    val assigned = c
      .select(col("id").cast("long"), col("v"), col("nrm"))
      .as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        val cs = bcCents.value
        val cn = cs.map { case (_, cv) =>
          var s = 0.0; var i = 0
          while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
          math.sqrt(s)
        }
        it.map { case (id, vSeq, nrm) =>
          val v = vSeq.toArray
          var best = 0; var bestSim = Double.NegativeInfinity
          var ci = 0
          while (ci < cs.length) {
            val cv = cs(ci)._2
            val n = math.min(v.length, cv.length)
            var s = 0.0; var i = 0
            while (i < n) { s += v(i) * cv(i); i += 1 }
            val sim = s / (nrm * cn(ci))
            if (sim > bestSim) { bestSim = sim; best = ci }
            ci += 1
          }
          (cs(best)._1, id, vSeq, nrm)
        }
      }.toDF("list_id", "c_id", "c_v", "c_n")

    val probes = nearestCentroids(prepared(queries, idCol, vecCol), nProbe)
      .select(col("cent_id").as("list_id"), col("id").as("q_id"),
        col("v").as("q_v"), col("nrm").as("q_n"))

    val scored = probes.join(assigned, "list_id")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", dot(col("q_v"), col("c_v")) / (col("q_n") * col("c_n")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id").as("n_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Hard-negative mining for contrastive embedding training: per anchor,
    * the top-k most-similar corpus vectors whose cosine is BELOW
    * `posThreshold` — "close but not the same" examples. Vectors at or
    * above the threshold are presumed positives/near-duplicates (the
    * semanticNeardupPairs regime) and are excluded, as is the anchor
    * itself.
    *
    * Exact form: same broadcast-anchors single-corpus-pass shape as
    * bruteForceTopK with the threshold filter BEFORE ranking — fully
    * oracle-replicable. Output: (q_id, n_id, rank, cosine). */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, k: Int, posThreshold: Double): DataFrame = {
    val c = prepared(corpus, idCol, vecCol)
    val q = prepared(anchors, idCol, vecCol)
      .select(col("id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("id"))
      .withColumn("cosine", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .filter(col("cosine") < posThreshold)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("n_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Billion-vector form of [[hardNegatives]]: overfetch k·overfetch
    * candidates from a persisted PQ index (probe-bounded, m-bytes/vector
    * scan), drop the presumed positives (exact re-ranked cosine >=
    * posThreshold), keep the top k per anchor. Approximate like every
    * index-served path — measure recall against [[hardNegatives]]. */
  def hardNegativesPq(index: PqIndex, corpus: DataFrame, anchors: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      posThreshold: Double, overfetch: Int = 4): DataFrame = {
    require(overfetch >= 1, s"overfetch $overfetch")
    val cand = searchPqIndex(index, corpus, anchors, idCol, vecCol,
      k * overfetch)
      .filter(col("cosine") < posThreshold)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("cosine"))
  }
}
