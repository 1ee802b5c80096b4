package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** The local checkpoint manager's publish contract, which Spark's
  * offset and commit logs and the state stores rely on: a file appears
  * whole or not at all, a no-overwrite publish never replaces a file
  * (the metadata log reads the refusal as a second writer), and no
  * temp file is ever listed or left behind.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def fresh(): (LocalCheckpointFileManager, Path) = {
    val dir = Files.createTempDirectory("graft_ckpt_spec")
    val root = new Path(dir.toUri)
    (new LocalCheckpointFileManager(root, new Configuration()), root)
  }

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: LocalCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every name in the directory, hidden ones included. */
  private def names(dir: Path): Set[String] = {
    val ls = Files.list(java.nio.file.Paths.get(dir.toUri))
    try ls.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
    finally ls.close()
  }

  test("no-overwrite onto an existing file throws FileAlreadyExistsException, keeps the old bytes and leaves no temp file") {
    val (fm, root) = fresh()
    val p = new Path(root, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(fm, p) == "first")
    assert(names(root) == Set("0"))
  }

  test("overwrite replaces the file") {
    val (fm, root) = fresh()
    val p = new Path(root, "1.delta")
    write(fm, p, "old", overwrite = true)
    write(fm, p, "new", overwrite = true)
    assert(read(fm, p) == "new")
    assert(names(root) == Set("1.delta"))
  }

  test("cancel leaves neither the file nor a temp file") {
    val (fm, root) = fresh()
    val p = new Path(root, "2")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(root).exists(_.endsWith(".tmp")), "the write goes to a temp file")
    out.cancel()
    assert(!fm.exists(p))
    assert(names(root).isEmpty)
  }

  test("of two concurrent no-overwrite writers on one path exactly one wins") {
    val (fm, root) = fresh()
    val pool = Executors.newFixedThreadPool(2)
    try (0 until 20).foreach { round =>
      val p = new Path(root, round.toString)
      val go = new CountDownLatch(1)
      val outcomes = Seq("a", "b").map { who =>
        pool.submit(new Callable[Option[String]] {
          override def call(): Option[String] = {
            val out = fm.createAtomic(p, overwriteIfPossible = false)
            out.write(s"$who$round".getBytes(UTF_8))
            go.await(10, TimeUnit.SECONDS)
            try { out.close(); Some(who) }
            catch { case _: FileAlreadyExistsException => None }
          }
        })
      }
      go.countDown()
      val winners = outcomes.flatMap(_.get(30, TimeUnit.SECONDS))
      assert(winners.size == 1, s"round $round winners $winners")
      assert(read(fm, p) == s"${winners.head}$round")
    } finally pool.shutdownNow()
    assert(names(root) == (0 until 20).map(_.toString).toSet, "no temp file survives")
  }

  test("list never returns temp files; directories come from mkdirs and createCheckpointDirectory") {
    val (fm, root) = fresh()
    val ckpt = new LocalCheckpointFileManager(new Path(root, "ckpt"), new Configuration())
      .createCheckpointDirectory()
    assert(ckpt.toUri.getScheme == "file" && fm.exists(ckpt))
    val offsets = new Path(ckpt, "offsets")
    fm.mkdirs(offsets)
    write(fm, new Path(offsets, "0"), "v1", overwrite = false)
    val open = fm.createAtomic(new Path(offsets, "1"), overwriteIfPossible = false)
    open.write("pending".getBytes(UTF_8))
    assert(names(offsets).size == 2, "the pending write's temp file is on disk")
    assert(fm.list(offsets).map(_.getPath.getName).toSet == Set("0"))
    open.close()
    assert(fm.list(offsets).map(_.getPath.getName).toSet == Set("0", "1"))
    intercept[java.io.FileNotFoundException](fm.list(new Path(ckpt, "missing")))
    intercept[java.io.FileNotFoundException](fm.open(new Path(offsets, "9")))
    fm.delete(ckpt)
    assert(!fm.exists(ckpt) && fm.isLocal)
  }
}
