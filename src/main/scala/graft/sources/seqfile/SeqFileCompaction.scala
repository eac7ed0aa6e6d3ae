package graft.sources.seqfile

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.seqfile.ZoneMap
import graft.util.PlanParallel

/** Small-files compaction for seqfile directories — the maintenance job a
  * streaming sink's output needs at scale: a sink committing one file per
  * (epoch, partition) produces thousands of tiny files per day, and at
  * 100 TB the resulting split explosion (and NameNode/liststore pressure)
  * dominates scan cost. Compaction rewrites the current committed file set
  * into ~`targetFileBytes` files (sorted by key, so zone maps stay
  * selective) with readers never observing duplicates or gaps:
  *
  *  1. snapshot the directory's manifest state (or atomically convert a
  *     plain directory to manifest-managed with a baseline compaction
  *     manifest listing the current files);
  *  2. rewrite the snapshot's data through the DSv2 writer into a hidden
  *     temp dir, then move the parts (+ zone-map sidecars) into the
  *     directory — invisible until manifested;
  *  3. atomically publish a `compact-<seq>` manifest listing the new files
  *     and naming every manifest it absorbs (epoch, batch and earlier
  *     compaction manifests alike) — from this rename on, readers see
  *     exactly the compacted set plus any epoch or batch manifest committed
  *     after the snapshot (a live sink or a batch append keeps going);
  *  4. delete absorbed manifests and unreferenced data files. A crash
  *     before 3 leaves only invisible garbage (cleaned by the next run);
  *     a crash during 4 leaves absorbed manifests that readers already
  *     ignore and files the next compaction deletes — self-healing, never
  *     duplicates.
  *
  * The manifest names, formats and read rule live in `SeqManifest`.
  * Assumes one compaction job at a time per directory (standard for lake
  * maintenance without a lock service) and a leaf directory (run once per
  * partition directory of a partitioned lake).
  */
object SeqFileCompaction {

  /** Compact `dir` (a leaf seqfile directory). Returns the number of data
    * files after compaction. `sortByKey` range-partitions and sorts so the
    * output is globally key-ordered — maximally zone-map-friendly. */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 512L * 1024 * 1024,
              sortByKey: Boolean = true,
              writeOptions: Map[String, String] = Map.empty): Int = {
    require(targetFileBytes >= 1024, "targetFileBytes must be >= 1024")
    val conf = SeqFileHadoopConf.of(spark)
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)

    // clean leftovers of a previously crashed run (invisible by design)
    Option(fs.globStatus(new Path(root, ".compact-tmp-*")))
      .foreach(_.foreach(st => fs.delete(st.getPath, true)))

    // 1. ensure manifest management (a plain directory gets a baseline
    // manifest of its current files, see SeqManifest.govern)
    SeqManifest.govern(fs, conf, root)

    // 2. snapshot: manifest names, the files they make visible and every
    // file any of them references, all from one listing
    val snap = SeqManifest.snapshot(fs, root)
    // orphaned `compacted-*` files (crash between move and publish): ours
    // alone by construction, never referenced, safe to remove. In-flight
    // SINK files (part-e*) are deliberately left alone — their epoch
    // manifest may be about to commit.
    Option(fs.listStatus(root)).map(_.toSeq).getOrElse(Nil)
      .filter(st => st.isFile && st.getPath.getName.startsWith("compacted-")
        && !snap.referenced.contains(st.getPath.getName))
      .foreach { st =>
        fs.delete(st.getPath, false)
        val side = ZoneMap.sidecarPath(st.getPath)
        if (fs.exists(side)) fs.delete(side, false)
      }
    if (snap.visible.isEmpty) return 0
    val inputPaths = snap.visible.toSeq.sorted.map(n => new Path(root, n))
    val totalBytes = inputPaths.map(p => fs.getFileStatus(p).getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)

    // 3. rewrite through the connector (sidecars included) into hidden temp
    val tmpDir = new Path(root, s".compact-tmp-${UUID.randomUUID().toString.take(8)}")
    val df = spark.read.format("seqfile")
      .load(inputPaths.map(_.toString): _*)
    val arranged =
      if (sortByKey)
        df.repartitionByRange(nOut, col("key")).sortWithinPartitions("key")
      else df.repartition(nOut)
    // Bloom preservation: a lake written with bloomKeys must not lose its
    // point-lookup pruning just because the maintenance pass didn't repeat
    // the option (compactAll can't know per-leaf write options). If the
    // caller didn't decide either way, inspect the committed sidecars —
    // any block-level Bloom present re-enables the option at default fpp.
    val effectiveOptions =
      if (writeOptions.keys.exists(_.equalsIgnoreCase("bloomKeys"))) writeOptions
      else {
        // Any failure on a single sidecar (missing, corrupt, foreign,
        // transient I/O) means "no bloom detected from this file", never an
        // aborted compaction — the sniff is a best-effort hint. Reads are
        // parallelized like the pushdown planners (O(files/parallelism)
        // driver wall-clock) in chunks, short-circuiting on the first hit.
        def sniff(p: Path): Boolean = scala.util.Try {
          val side = fs.getFileStatus(ZoneMap.sidecarPath(p))
          ZoneMap.parse(ZoneMap.readBytes(fs, side))._4.exists(_.kbloom.isDefined)
        }.getOrElse(false)
        val hadBlooms = inputPaths
          .grouped(PlanParallel.Parallelism * 4)
          .exists(chunk => PlanParallel.mapOrdered(chunk)(sniff).contains(true))
        if (hadBlooms) writeOptions + ("bloomKeys" -> "true") else writeOptions
      }
    val writer = arranged.write.format("seqfile").mode("overwrite")
    effectiveOptions.foreach { case (k, v) => writer.option(k, v) }
    writer.save(tmpDir.toString)

    // move parts + sidecars in (still invisible: not manifested)
    val parts = Option(fs.listStatus(tmpDir)).map(_.toSeq).getOrElse(Nil)
      .filter(st => st.isFile && !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      .map(_.getPath)
    val moved = parts.map { p =>
      val name = s"compacted-${p.getName}"
      val target = new Path(root, name)
      if (!fs.rename(p, target))
        throw new java.io.IOException(s"cannot move $p to $target")
      val side = ZoneMap.sidecarPath(p)
      if (fs.exists(side))
        fs.rename(side, ZoneMap.sidecarPath(target))
      name
    }

    // 4. publish: one atomic rename flips visibility to the compacted set
    // (manifests committed after the snapshot stay visible — not absorbed)
    SeqManifest.writeAtomically(fs, conf,
      new Path(SeqManifest.dir(root), SeqManifest.nextCompactionName(snap.names)),
      SeqManifest.renderCompaction(snap.names, moved))

    // 5. cleanup: absorbed manifests, every data file they referenced
    // (visible or stale-invisible), temp dir
    snap.names.foreach(n => fs.delete(new Path(SeqManifest.dir(root), n), false))
    val keep = moved.toSet
    snap.referenced.filterNot(keep).foreach { n =>
      val p = new Path(root, n)
      if (fs.exists(p)) fs.delete(p, false)
      val side = ZoneMap.sidecarPath(p)
      if (fs.exists(side)) fs.delete(side, false)
    }
    fs.delete(tmpDir, true)
    moved.size
  }
}
