package graft

import java.nio.file.Files

/** Gates build their stores under one scratch root per run, and the run
  * deletes it once the results are consumed: repeated Verify, Bench or
  * QueryProfile runs leave nothing behind in the temp directory.
  */
class GateScratchSpec extends SparkTestBase {

  test("a streaming gate's store is gone once the run has consumed its result") {
    Seq("q157_stream_topk" -> "graft-q157",
        "q62_accesslog_source" -> "graft-q62").foreach { case (gate, prefix) =>
      var root: Option[java.nio.file.Path] = None
      val rows = gates.Support.withScratch {
        val n = SparkEntry.queries(gate)(spark, "/root/testdata/sf0.001").count()
        root = gates.Support.scratchRoot
        assert(root.exists(r => Files.list(r).anyMatch(_.getFileName.toString.startsWith(prefix))),
          s"the gate's store is under $root")
        n
      }
      assert(rows > 0)
      assert(root.exists(r => !Files.exists(r)), s"$root left behind")
      assert(gates.Support.scratchRoot.isEmpty)
    }
  }
}
