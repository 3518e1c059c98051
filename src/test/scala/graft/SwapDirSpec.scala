package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.DatasetsSink

/** The directory commit behind MERGE, partition compaction and the ANN
  * cell GC, over plain directories (no Spark session): every crash
  * window of [[DatasetsSink.swapDir]] recovers to complete content. */
class SwapDirSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private def put(dir: Path, content: String): Unit = {
    val out = fs.create(new Path(dir, "part"), true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  private def content(dir: Path): Option[String] =
    if (!fs.exists(dir)) None
    else {
      val in = fs.open(new Path(dir, "part"))
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }

  private def fresh(): (Path, Path, Path) = {
    val root = new Path(java.nio.file.Files.createTempDirectory("swapdir").toUri)
    (new Path(root, "kb=0"), new Path(root, ".kb=0.staged"), new Path(root, ".kb=0.aside"))
  }

  test("recoverDir finishes every swapDir crash window, and a second run is a no-op") {
    // (crash point, dirs holding old/new content, expected live, rebuilt?)
    val windows = Seq(
      ("before the aside rename", Seq("live" -> "old", "staged" -> "new"), "old", false),
      ("after the aside rename", Seq("aside" -> "old", "staged" -> "new"), "new", true),
      ("after the promote", Seq("live" -> "new", "aside" -> "old"), "new", false),
      ("aside only", Seq("aside" -> "old"), "old", true))
    windows.foreach { case (point, state, want, rebuilt) =>
      val (live, staged, aside) = fresh()
      val dirs = Map("live" -> live, "staged" -> staged, "aside" -> aside)
      state.foreach { case (d, c) => put(dirs(d), c) }
      assert(DatasetsSink.recoverDir(fs, live, staged, aside) == rebuilt, point)
      assert(content(live).contains(want), s"$point: live must hold the $want content")
      assert(!fs.exists(staged) && !fs.exists(aside), s"$point: leftovers must be gone")
      assert(!DatasetsSink.recoverDir(fs, live, staged, aside), s"$point: second run")
      assert(content(live).contains(want) && !fs.exists(staged) && !fs.exists(aside), point)
    }
  }

  test("swapDir promotes the staged dir, and a failed promote restores live and throws") {
    val (live, staged, aside) = fresh()
    put(live, "old"); put(staged, "new")
    DatasetsSink.swapDir(fs, live, staged, aside)
    assert(content(live).contains("new") && !fs.exists(staged) && !fs.exists(aside))
    // a store that refuses the promote: the aside moves back to live
    put(staged, "newer")
    val refusing = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        src != staged && super.rename(src, dst)
    }
    intercept[IllegalStateException](DatasetsSink.swapDir(refusing, live, staged, aside))
    assert(content(live).contains("new") && content(staged).contains("newer"))
    assert(!fs.exists(aside))
  }
}
