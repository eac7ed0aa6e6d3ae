package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SaveMode, SparkSession}

/** User-facing facade over the seqfile connector — the Spark-native
  * equivalent of the reference's public module surface
  * (`Data.Hadoop.SequenceFile.decode`, reference: SequenceFile.hs:80-84),
  * plus the write side its README promises (reference: README.md:3-5).
  *
  * `readTyped[K, V]` is the analog of the reference's typed decode
  * (`Stream (RecordBlock k v)` with types fixed at the call site,
  * reference: tests/Main.hs:19-33): the requested Scala types are validated
  * against the file header's Writable classes, failing fast on mismatch.
  */
object SequenceFiles {

  /** `(key, value)` DataFrame with schema resolved from the file header. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.format("seqfile").load(paths: _*)

  /** Typed dataset of (key, value) pairs — the `RecordBlock k v` surface. */
  def readTyped[K, V](spark: SparkSession, path: String)
                     (implicit enc: Encoder[(K, V)]): Dataset[(K, V)] =
    read(spark, path)
      .withColumnRenamed("key", "_1")
      .withColumnRenamed("value", "_2")
      .as[(K, V)]

  /** Write a 2-column (key, value) DataFrame as BLOCK+Snappy sequence files. */
  def write(df: DataFrame, path: String,
            mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.format("seqfile").mode(mode).save(path)

  /** Total record count. Catalyst prunes all columns, so only block headers
    * and buffer lengths are read — no decompression (beats the reference's
    * recordCount, which decodes both columns, reference: Parser.hs:109-110 /
    * SequenceFile.hs:31-36). */
  def recordCount(spark: SparkSession, paths: String*): Long =
    read(spark, paths: _*).count()

  /** Compact a leaf seqfile directory's committed files into
    * ~`targetFileBytes` files, key-sorted by default (zone-map friendly).
    * Readers never observe duplicates or gaps, and a live streaming sink
    * can keep appending throughout; see SeqFileCompaction for the manifest
    * protocol. Returns the number of data files after compaction. */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 512L * 1024 * 1024,
              sortByKey: Boolean = true,
              writeOptions: Map[String, String] = Map.empty): Int =
    graft.sources.seqfile.SeqFileCompaction.compact(
      spark, dir, targetFileBytes, sortByKey, writeOptions)

  /** Compact every leaf partition directory of a (possibly hive-
    * partitioned) seqfile lake — the one-call maintenance pass after a
    * partitioned write or a long streaming run. Walks `k=v` levels to the
    * directories that actually hold `.seq` files and runs the crash-safe
    * per-directory compaction on each. Returns (relative leaf dir → file
    * count after compaction); an unpartitioned dir compacts itself under
    * key "". */
  def compactAll(spark: SparkSession, root: String,
                 targetFileBytes: Long = 512L * 1024 * 1024,
                 sortByKey: Boolean = true,
                 writeOptions: Map[String, String] = Map.empty): Map[String, Int] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(graft.sources.seqfile.SeqFileHadoopConf.of(spark))
    def leaves(p: Path): Seq[Path] = {
      val children = fs.listStatus(p).toSeq
        .filterNot(c => c.getPath.getName.startsWith(".") ||
          c.getPath.getName.startsWith("_"))
      val subdirs = children.filter(_.isDirectory)
      val hasData = children.exists(c => !c.isDirectory &&
        c.getPath.getName.endsWith(".seq"))
      (if (hasData) Seq(p) else Nil) ++ subdirs.flatMap(s => leaves(s.getPath))
    }
    val rootStr = fs.makeQualified(rootPath).toString
    leaves(rootPath).map { leaf =>
      val leafStr = fs.makeQualified(leaf).toString
      val rel =
        if (leafStr == rootStr) ""
        else leafStr.stripPrefix(rootStr).stripPrefix("/")
      rel -> compact(spark, leaf.toString, targetFileBytes, sortByKey, writeOptions)
    }.toMap
  }
}
