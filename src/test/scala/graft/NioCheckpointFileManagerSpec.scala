package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.streaming.NioCheckpointFileManager

/** Contract pins for the round-20 forkless checkpoint manager. Every
  * streaming replay row exercises it end-to-end (offset/commit logs,
  * state deltas, mid-stream restart recovery — all 56 oracle rows ran
  * through it before it shipped); this spec pins the MECHANISM pieces an
  * oracle hash can't separate: the exception TYPES the streaming
  * machinery dispatches on (`HDFSMetadataLog` catches Hadoop's
  * `FileAlreadyExistsException` for concurrent-writer detection, and only
  * one of two racing writers may publish; state
  * store listing catches `FileNotFoundException`), atomicity (no partial
  * file ever visible under the final name; cancel leaves nothing), and
  * the local-only guard (a remote scheme must refuse at construction,
  * not corrupt silently at first write).
  */
class NioCheckpointFileManagerSpec extends SparkSpec {

  private def freshFm(): (NioCheckpointFileManager, java.nio.file.Path) = {
    val root = java.nio.file.Files.createTempDirectory("graft_niocfm")
    (new NioCheckpointFileManager(new Path(root.toString), new Configuration()),
      root)
  }

  private def write(fm: NioCheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: NioCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("createAtomic publishes all-or-nothing and close is idempotent") {
    val (fm, root) = freshFm()
    val f = new Path(root.toString, "offsets/0")
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("batch-0".getBytes("UTF-8"))
    // not closed yet: final name must not exist, only a dot-tmp sibling
    assert(!fm.exists(f), "final name visible before close")
    out.close()
    out.close() // RenameBased close is idempotent; ours must be too
    assert(read(fm, f) == "batch-0")
    // the temp must be gone (no .tmp litter for the maintenance lister)
    val leftovers = fm.list(new Path(root.toString, "offsets"))
      .map(_.getPath.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"tmp litter: ${leftovers.mkString(",")}")
  }

  test("already-exists surfaces as Hadoop FileAlreadyExistsException") {
    val (fm, root) = freshFm()
    val f = new Path(root.toString, "commits/7")
    write(fm, f, "first", overwrite = false)
    val e = intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      write(fm, f, "second", overwrite = false)
    }
    assert(e != null)
    assert(read(fm, f) == "first", "loser must not clobber the winner")
    // overwriteIfPossible=true IS allowed to replace (state delta re-commit)
    write(fm, f, "third", overwrite = true)
    assert(read(fm, f) == "third")
  }

  test("two writers racing to publish the same name: exactly one wins") {
    // HDFSMetadataLog's concurrent-writer detection: of two writers that
    // both reach the publish step, one must get FileAlreadyExistsException
    // and the winner's bytes must survive
    val (fm, root) = freshFm()
    val writers = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try (0 until 300).foreach { round =>
      val f = new Path(root.toString, s"offsets/$round")
      val barrier = new java.util.concurrent.CyclicBarrier(writers)
      val outs = (0 until writers).map { w =>
        val out = fm.createAtomic(f, overwriteIfPossible = false)
        out.write(s"writer-$w".getBytes("UTF-8"))
        out
      }
      val results = outs.map { out =>
        pool.submit(() => {
          barrier.await()
          try { out.close(); true }
          catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
        })
      }.map(_.get())
      assert(results.count(identity) == 1, s"round $round: winners $results")
      assert(read(fm, f) == s"writer-${results.indexOf(true)}",
        s"round $round: the winner's bytes were replaced")
    } finally pool.shutdown()
    val leftovers = fm.list(new Path(root.toString, "offsets"))
      .map(_.getPath.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"tmp litter: ${leftovers.mkString(",")}")
  }

  test("cancel leaves no trace; open/list on missing raise FileNotFoundException") {
    val (fm, root) = freshFm()
    val f = new Path(root.toString, "state/1.delta")
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(!fm.exists(f))
    assert(fm.list(new Path(root.toString, "state")).isEmpty)
    intercept[java.io.FileNotFoundException] { fm.open(f) }
    intercept[java.io.FileNotFoundException] {
      fm.list(new Path(root.toString, "no_such_dir"))
    }
  }

  test("recursive delete, mkdirs, list statuses and seekable reads") {
    val (fm, root) = freshFm()
    fm.mkdirs(new Path(root.toString, "a/b"))
    write(fm, new Path(root.toString, "a/b/x"), "xx", overwrite = false)
    write(fm, new Path(root.toString, "a/y"), "yyyy", overwrite = false)
    val st = fm.list(new Path(root.toString, "a"))
    assert(st.length == 2)
    val byName = st.map(s => s.getPath.getName -> s).toMap
    assert(byName("y").getLen == 4 && !byName("y").isDirectory)
    assert(byName("b").isDirectory)
    // seek semantics (HDFSMetadataLog re-reads from 0 after a get miss)
    val in = fm.open(new Path(root.toString, "a/y"))
    try {
      in.seek(2)
      assert(in.getPos == 2)
      val rest = new String(in.readAllBytes(), "UTF-8")
      assert(rest == "yy")
      in.seek(0)
      assert(new String(in.readAllBytes(), "UTF-8") == "yyyy")
    } finally in.close()
    fm.delete(new Path(root.toString, "a"))
    assert(!fm.exists(new Path(root.toString, "a")))
    fm.delete(new Path(root.toString, "a")) // second delete: silent no-op
  }

  test("non-local scheme refuses at construction") {
    intercept[IllegalArgumentException] {
      new NioCheckpointFileManager(
        new Path("hdfs://nn:8020/ckpt"), new Configuration())
    }
  }

  test("replay child sessions opt in; the parent session does not") {
    // a fresh child of the suite-shared session keeps this spec's conf
    // reads isolated
    val parent = spark.newSession()
    // build a replay child the way the harnesses do; read the conf back
    val child = graft.streaming.StreamReplay.testReplaySession(parent)
    assert(child.conf.get("spark.sql.streaming.checkpointFileManagerClass")
      == "graft.streaming.NioCheckpointFileManager")
    assert(parent.conf.getOption(
      "spark.sql.streaming.checkpointFileManagerClass").isEmpty,
      "parent session must keep Spark's default managers")
  }
}
