package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The word boundary and the feature digest live in [[Words]] only: a
  * `\s+` Pattern or an MD5 digest anywhere else under `graft.functions`
  * would be a second copy of a decision every text kernel shares, with
  * its own twin to keep in step. This scan fails on the first one. */
class WordsSourceScanSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala/graft/functions")
  private val forbidden = Seq("""Pattern.compile("\\s+")""", """MessageDigest.getInstance("MD5")""")

  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("no \\s+ Pattern and no MD5 digest outside the shared Words module") {
    assert(root.isDirectory, s"source root ${root.getAbsolutePath} not found")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    val hits = for {
      f <- sources if f.getName != "Words.scala"
      (line, n) <- text(f).split("\n").toSeq.zipWithIndex
      pat <- forbidden if line.contains(pat)
    } yield s"${f.getName}:${n + 1}: $pat"
    assert(hits.isEmpty, hits.mkString("\n"))
    // the module itself holds exactly one of each
    val words = text(new java.io.File(root, "Words.scala"))
    forbidden.foreach(p => assert(words.split(java.util.regex.Pattern.quote(p), -1).length == 2, p))
  }
}
