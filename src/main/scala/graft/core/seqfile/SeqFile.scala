package graft.core.seqfile

import java.nio.file.Paths

/** Facade over the codec, analog of the reference's top-level `decode`
  * (reference: src/Data/Hadoop/SequenceFile.hs:80-84). */
object SeqFile {

  def readHeader(path: String): SeqHeader = {
    val in = new LocalSeekableInput(Paths.get(path))
    try SeqHeader.parse(new SeqInput(in))
    finally in.close()
  }

  /** Stream all blocks of a local file (any supported compression layout),
    * parsing the header and reading the blocks through one SeqInput.
    * Caller must exhaust or close. Each block is valid until the next
    * `next()`: copy what you keep (see SeqStream). */
  def open(path: String, decodeKey: Boolean = true, decodeValue: Boolean = true): SeqStream = {
    val in = new SeqInput(new LocalSeekableInput(Paths.get(path)))
    val header =
      try SeqHeader.parse(in)
      catch { case e: Throwable => in.close(); throw e }
    SeqStream.openRange(in, header, 0L, in.length, decodeKey, decodeValue)
  }

  /** Total record count without decoding any column — only block headers and
    * buffer lengths are read (the reference's `recordCount` fold, reference:
    * SequenceFile.hs:31-36, but skipping even decompression). */
  def recordCount(path: String): Long = {
    val r = open(path, decodeKey = false, decodeValue = false)
    try r.map(_.count.toLong).sum
    finally r.close()
  }
}
