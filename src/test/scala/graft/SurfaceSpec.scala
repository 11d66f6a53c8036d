package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** The library-surface check runs with the tests: every `def`, `object`,
  * `class` and `trait` in src/main/scala has a non-test reference or an
  * allowlisted reason (tools/check_surface.py). */
class SurfaceSpec extends AnyFunSuite {
  test("tools/check_surface.py finds every library def called or allowlisted") {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val code = Seq("python3", "tools/check_surface.py").!(log)
    assert(code == 0, s"tools/check_surface.py exited $code:\n$out")
  }
}
