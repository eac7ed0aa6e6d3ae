package graft.sources.seqfile

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.seqfile.{SeqFileWriter, WritableType}

/** A split is read through the one stream its reader opens: one raw open of
  * the data file and one of its `.crc` file for the whole split, however
  * many blocks it holds. */
class SeqFileOneOpenSpec extends AnyFunSuite {

  private val N = 40000L

  test("a full scan of a many-block split opens the file and its .crc once") {
    val conf = new Configuration()
    CountingFileSystem.register(conf)
    val data = Files.createTempDirectory("seqoneopen").resolve("data.seq").toFile
    // written through LocalFileSystem, so the data file has a .crc file
    val w = new SeqFileWriter(FileSystem.getLocal(conf).create(new Path(data.toURI)),
      WritableType.LongW, WritableType.TextW, blockSize = 16 * 1024, syncSeed = 7L)
    (0L until N).foreach(i => w.append(i, s"value-$i"))
    w.close()
    val crc = new File(data.getParentFile, s".${data.getName}.crc")
    assert(crc.isFile, "LocalFileSystem wrote a checksum file")

    val path = s"${CountingFileSystem.Scheme}://${data.getPath}"
    val schema = SeqFileSchema.schemaFor(WritableType.LongW, WritableType.TextW)
    CountingFileSystem.reset()
    val reader = new SeqFileColumnarPartitionReader(
      SeqFilePartition(path, 0L, data.length()), schema, schema, ReadMode.FailFast, conf)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var blocks = 0
    try {
      while (reader.next()) {
        val b = reader.get()
        blocks += 1
        for (i <- 0 until b.numRows())
          rows += (b.column(0).getLong(i) -> b.column(1).getUTF8String(i).toString)
      }
    } finally reader.close()

    assert(blocks > 10, "the split holds many blocks")
    assert(rows === (0L until N).map(i => (i, s"value-$i")))
    assert(CountingFileSystem.rawOpenCalls(data.getPath) === 1)
    assert(CountingFileSystem.rawOpenCalls(crc.getPath) === 1)
  }
}
