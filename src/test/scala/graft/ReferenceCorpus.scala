package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The reference checkout that the conformance specs read programs,
  * scenarios and benchmarks from. Its root is `GRAFT_REFERENCE_DIR`,
  * by default `/root/reference`. Every spec resolves its files through
  * [[path]], so without the checkout each of those tests fails with
  * the one [[missing]] message instead of an NPE or an empty listing.
  */
object ReferenceCorpus {

  val root: String =
    sys.env.getOrElse("GRAFT_REFERENCE_DIR", "/root/reference")

  val missing: String =
    s"reference corpus not found at $root " +
      "(set GRAFT_REFERENCE_DIR to a checkout of the reference repository)"

  /** `rel` resolved under the root; throws [[missing]] when the root
    * directory does not exist.
    */
  def path(rel: String): String = {
    if (!Files.isDirectory(Paths.get(root)))
      throw new java.io.FileNotFoundException(missing)
    Paths.get(root, rel).toString
  }

  def read(rel: String): String =
    new String(Files.readAllBytes(Paths.get(path(rel))), UTF_8)
}
