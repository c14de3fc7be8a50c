package graft

import org.scalatest.funsuite.AnyFunSuite

/** tools/artifact_check.py gates the committed bench artifacts; its
  * fixture script pins the gate's behaviour on doctored artifacts.
  * Running the script here keeps the fixtures from breaking unseen. */
class ArtifactCheckSpec extends AnyFunSuite {

  test("tools/test_artifact_check.py fixtures pass") {
    val p = new ProcessBuilder("python3", "tools/test_artifact_check.py")
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor() === 0, out)
  }
}
