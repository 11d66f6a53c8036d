package graft

/** The OCaml reference's OSM extracts and golden bigraph JSONs, read by the
  * parity specs. They are not vendored, so a test that reads one passes its
  * path through [[need]] first: on a host without them the test fails with
  * one line naming the missing path, not a FileNotFoundException trace. It
  * fails rather than cancels: a parity claim that was not checked is not a
  * pass. */
object ReferenceFixtures {
  val dataDir = "/root/reference/data"
  val outDir = "/root/reference/output"

  def need(path: String): String = {
    if (!new java.io.File(path).exists())
      org.scalatest.Assertions.fail(s"reference fixtures absent at $path")
    path
  }
}
