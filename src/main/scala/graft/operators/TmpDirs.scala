package graft.operators

import org.apache.spark.sql.SparkSession

/** Gate-scratch placement: tmpfs (`/dev/shm`) when present and
  * writable, else `java.io.tmpdir`. The streaming/mutating gates stage
  * replay slices, checkpoints, sinks and table layouts as REAL files —
  * the protocol under test is identical either way — but on a
  * disk-backed /tmp their walls carry the host's I/O noise (la12 was
  * observed swinging 3-11 s run-to-run), which is measurement noise,
  * not engine behavior. tmpfs removes it, tightening the bench
  * artifact run-to-run; a production deployment points the same
  * paths at durable storage and prices THAT deliberately. */
private[graft] object Scratch {
  /** Placement order: `SPARK_GRAFT_SCRATCH` (explicit opt-out/redirect
    * — point it at durable storage for a larger-SF run), else tmpfs
    * WHEN it has real headroom (tmpfs is RAM-backed and typically
    * capped at 50% of memory; routing a big staging write there with
    * no check turns into ENOSPC mid-gate), else `java.io.tmpdir`. */
  lazy val root: String = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH").filter(_.nonEmpty)
      .getOrElse {
        val shm = new java.io.File("/dev/shm")
        val minFree = 8L << 30 // require >=8 GiB usable before tmpfs
        if (shm.isDirectory && shm.canWrite &&
            shm.getUsableSpace >= minFree) "/dev/shm/graft-scratch"
        else System.getProperty("java.io.tmpdir")
      }
    new java.io.File(base).mkdirs()
    base
  }
}

/** Scratch dirs for the MUTATING gates (file layout is the layer under
  * test: compaction, partition DROP, MERGE, time travel, index
  * maintenance...) and the streaming replays, all under [[Scratch]],
  * all reclaimed. [[withRoot]] brackets a gate: it stages everything,
  * staging dirs included, under one unique root and follows the write
  * → materialize(collect) → delete discipline with the delete in a
  * `finally`, so a failed `require` or collect can never leave
  * poisoned parquet accumulating across runs (round-9 advice). Dirs a
  * returned frame still reads live until JVM exit, when one shutdown
  * hook deletes them. */
private[graft] object TmpDirs {

  /** Mint `Scratch.root/graft_<tag>_<uuid>`, run `body` with the
    * path, recursively delete it on ALL exits. `body` must therefore
    * MATERIALIZE anything it reads from the dir before returning —
    * returning a lazy DataFrame over the root would read a deleted
    * directory at the caller's first action. */
  def withRoot[T](s: SparkSession, tag: String)(body: String => T): T = {
    val dir =
      s"${Scratch.root}/graft_${tag}_${java.util.UUID.randomUUID()}"
    try body(dir)
    finally {
      // cleanup must never shadow the body's primary failure (e.g. the
      // SparkContext already stopped when the body threw) — best-effort
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      } catch {
        case scala.util.control.NonFatal(_) =>
          exitRoots.add(new java.io.File(dir)) // retry at JVM exit
      }
    }
  }

  private val exitRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = exitRoots.iterator()
      while (it.hasNext) deleteRec(it.next())
    }, "graft-tmpdirs-cleanup"))
  }
  private[operators] def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  /** For the one gate shape that must RETURN a lazy frame over its
    * staged files (la6: the spec pins partition pruning in the
    * returned plan, so the read-back cannot be collected away): the
    * dir lives until JVM exit (the StreamGates replay-root
    * discipline), then is reclaimed by the shutdown hook — still
    * never accumulating across runs. */
  def exitScopedRoot(tag: String): String = {
    val dir =
      s"${Scratch.root}/graft_${tag}_${java.util.UUID.randomUUID()}"
    exitRoots.add(new java.io.File(dir))
    dir
  }

  /** `createTempDirectory(prefix)` under the scratch root, reclaimed at
    * JVM exit: the streaming gates' replay sources, checkpoints and
    * sinks, which their returned frames read after the gate returns. */
  def exitScopedDir(prefix: String): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(Scratch.root), prefix).toFile
    exitRoots.add(dir)
    dir
  }

  /** For DETERMINISTIC paths that must stay stable within a run so
    * reruns overwrite instead of accumulating (q10's bucketed layout,
    * q15's summary), but must still be reclaimed at JVM exit — they'd
    * otherwise persist forever on tmpfs. Idempotent. */
  def reclaimAtExit(path: String): String = {
    val f = new java.io.File(path)
    if (!exitRoots.contains(f)) exitRoots.add(f)
    path
  }
}
