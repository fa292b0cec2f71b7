package graft

import org.scalatest.funsuite.AnyFunSuite

/** CLI argument handling that needs no Spark session. */
class MainSpec extends AnyFunSuite {

  private def removed(args: String*): Option[String] =
    Main.removedFlag(args.head, Main.parseArgs(args.toArray))

  test("ingest refuses the removed --source flag; sync --source keeps its meaning") {
    for (src <- Seq("ledger", "files")) {
      val msg = removed("ingest", "--changelog", "/c", "--table", "/t", "--source", src)
      assert(msg.exists(_.contains("chunk-ledger source was removed")), s"--source $src: $msg")
    }
    assert(removed("ingest", "--changelog", "/c", "--table", "/t",
      "--max-files-per-trigger", "2").isEmpty)
    assert(removed("sync", "--source", "/a", "--dest", "/b").isEmpty)
  }
}
