package graft.sources.seqfile

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the per-task configuration parse from coming back: the connector
  * and its API facade take their Hadoop conf from the session (see
  * SeqFileHadoopConf), never from a default-constructed Configuration, which
  * re-parses core-default.xml and drops the session's settings. */
class HadoopConfGuardSpec extends AnyFunSuite {

  private val roots = Seq("src/main/scala/graft/sources/seqfile", "src/main/scala/graft/api")

  /** `new Configuration()`, `new Configuration` or the fully qualified form;
    * a constructor with arguments (a copy, `loadDefaults`) is not matched. */
  private val noArgConf =
    """new\s+(?:org\.apache\.hadoop\.conf\.)?Configuration(?:\s*\(\s*\))?(?![\w(])""".r

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("the pattern catches each no-argument form and nothing else") {
    assert(noArgConf.findFirstIn("val c = new Configuration()").isDefined)
    assert(noArgConf.findFirstIn("f(new Configuration)").isDefined)
    assert(noArgConf.findFirstIn("new org.apache.hadoop.conf.Configuration( )").isDefined)
    assert(noArgConf.findFirstIn("new Configuration(conf)").isEmpty)
    assert(noArgConf.findFirstIn("new Configuration(false)").isEmpty)
    assert(noArgConf.findFirstIn("new ConfigurationBuilder()").isEmpty)
  }

  test("no default-constructed Hadoop Configuration under sources/seqfile or api") {
    val files = roots.flatMap(scalaFiles)
    assert(files.size > 10, s"sources not found from ${Paths.get("").toAbsolutePath}")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if noArgConf.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "use SeqFileHadoopConf instead:\n" + hits.mkString("\n"))
  }
}
