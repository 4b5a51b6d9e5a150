package graft

import java.io.{BufferedInputStream, File, FileInputStream}
import java.nio.charset.StandardCharsets

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.scalactic.source.Position
import org.scalatest.Assertions

/** The reference's fixture corpus (FIXTURES.md §1). Every spec resolves
  * its fixture files here, so a missing file fails the test with one line
  * naming it instead of an IO stack trace.
  */
object Fixtures {
  private val dir = new File("/root/reference/test-data")

  /** The fixture file `name`; fails the calling test, at the caller's
    * line, if it is absent.
    */
  def file(name: String)(implicit pos: Position): File =
    present(new File(dir, name))

  /** The decompressed bytes of the `.bz2` fixture `name`. */
  def bz2(name: String)(implicit pos: Position): Array[Byte] = {
    val in = new BZip2CompressorInputStream(
      new BufferedInputStream(new FileInputStream(file(name))))
    try in.readAllBytes() finally in.close()
  }

  /** The `.bz2` fixture `name` decompressed and decoded as UTF-8. */
  def bz2Text(name: String)(implicit pos: Position): String =
    new String(bz2(name), StandardCharsets.UTF_8)

  /** The fixture files whose names end with `suffix`, sorted by name;
    * fails the calling test if the fixture directory is absent.
    */
  def filesEndingWith(suffix: String)(implicit pos: Position): Seq[File] =
    present(dir).listFiles().filter(_.getName.endsWith(suffix))
      .sortBy(_.getName).toSeq

  private def present(f: File)(implicit pos: Position): File = {
    if (!f.exists())
      Assertions.fail(s"missing fixture ${f.getPath} (see FIXTURES.md)")
    f
  }
}
