package graft

/** Scratch storage for shuffle spill and streaming checkpoints.
  *
  * On a production cluster `spark.local.dir` is provisioned NVMe (one
  * mount per disk) and streaming checkpoints live on the cluster FS —
  * neither competes with the OS volume. On this single-VM harness the JVM
  * default tmpdir is `/tmp` on the one virtio root disk, so every shuffle
  * spill and state-store commit generates iowait against the same device
  * the OS and the testdata reads use. The 50M-node rehearsal measured
  * exactly that: the shuffle-heavy graph family's own /tmp spills tripped
  * the bench's first (steal+iowait) contention criterion on an otherwise
  * idle box (ROUND8.md). RAM is the faster disk we actually have —
  * `/dev/shm` is a 126 GiB tmpfs against ≤ a few GiB of sf0.1 spill.
  *
  * Policy: `SPARK_GRAFT_SCRATCH` env overrides; else `/dev/shm` when it
  * exists and is writable; else the JVM tmpdir. EVERY branch — including
  * the env override and the tmpdir fallback — is namespaced under a
  * graft-owned `graft_scratch` subdirectory before any reaping happens:
  * the reaper deletes entries matching graft's own naming scheme, and a
  * shared dir (/tmp, a user-supplied SPARK_GRAFT_SCRATCH) may contain
  * foreign files that happen to match `*_<digits>_<x>`. [[Graft.session]]
  * points `spark.local.dir` here (so Bench, Verify, Profile, PlanAudit
  * and the test suite spill here), and the streaming replay harness keeps
  * its per-query checkpoints here (deleted in `finally` — a leaked tmpfs
  * checkpoint would be leaked RAM, unlike a leaked /tmp file).
  * The SCALE REHEARSALS deliberately do NOT use this: at 50M nodes the
  * spill volume is a real fraction of RAM and tmpfs spill would compete
  * with the 48g heap — a production-shaped disk spill is the honest cost
  * there. That decision lives in one place, [[Rehearsal.run]], which
  * overrides `spark.local.dir` with the JVM tmpdir.
  */
object Scratch {
  /** Resolved scratch base directory (created on first use). Entries are
    * named `<prefix>_<pid>_<uuid>`; init reaps any entry whose creating
    * PID is dead — a crashed/OOM-killed run's shuffle dirs would
    * otherwise stay pinned in tmpfs RAM until reboot (Spark's own
    * cleanup is a JVM shutdown hook, which a SIGKILL never runs) — or
    * RECYCLED: `/proc/<pid>` existing only proves SOME process holds the
    * number; when that proc entry is younger than the scratch entry the
    * creating run is gone and an unrelated process inherited its PID, and
    * without the check the dead run's dirs stay pinned in tmpfs for as
    * long as the squatter lives (see [[reap]]). */
  lazy val base: String = {
    val pick = sys.env.get("SPARK_GRAFT_SCRATCH").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm") else None
    }.getOrElse(sys.props("java.io.tmpdir"))
    // ALWAYS namespace under a graft-owned subdir — reaping below must
    // never consider entries graft did not create (ADVICE r8: an env
    // override of /tmp would otherwise let the reaper delete foreign
    // files matching the *_<digits>_<x> pattern)
    val f = new java.io.File(pick, "graft_scratch")
    f.mkdirs()
    reap(f)
    f.getAbsolutePath
  }

  /** Reap entries under `dir` whose creating PID is dead or recycled.
    * Package-private and parameterized so the spec can exercise it
    * against a sandbox directory without touching the real base. */
  private[graft] def reap(dir: java.io.File): Unit = {
    val kids = dir.listFiles()
    if (kids != null) kids.foreach { k =>
      k.getName.split("_").dropRight(1).lastOption
        .filter(p => p.nonEmpty && p.forall(_.isDigit)).foreach { pid =>
          val proc = java.nio.file.Paths.get(s"/proc/$pid")
          val dead = !java.nio.file.Files.isDirectory(proc)
          // recycled-PID check: /proc/<pid>'s mtime is the process start;
          // a process that STARTED after the entry was created cannot be
          // the run that created it. 60 s slack absorbs clock/fs skew —
          // the cost of a miss is only a pinned tmpfs dir, never a wrong
          // delete (a live creator always predates its own entry).
          val recycled = !dead && (try {
            java.nio.file.Files.getLastModifiedTime(proc).toMillis >
              k.lastModified() + 60000L
          } catch { case _: Exception => false })
          if (dead || recycled) rmTree(k)
        }
    }
  }

  /** A fresh subdirectory under [[base]] for one consumer (not created —
    * Spark/streaming creates it). Caller owns deletion; the embedded PID
    * lets the next session's init reap it if this JVM dies uncleanly. */
  def dir(prefix: String): String =
    s"$base/${prefix}_${ProcessHandle.current().pid()}_" +
      java.util.UUID.randomUUID().toString.take(8)

  /** Depth-first delete. NEVER recurses through a symlink: listFiles on a
    * dir symlink returns the TARGET's children, so recursing would delete
    * outside scratch — the link itself is deleted instead (ADVICE r8). */
  private def rmTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rmTree)
    }
    f.delete(): Unit
  }

  /** Recursively delete a scratch path (best-effort; tmpfs leak = RAM
    * leak, so streaming callers run this in `finally`). Refuses anything
    * that is not STRICTLY inside the scratch base (`startsWith` alone
    * would match sibling dirs like `<base>2/` and the base itself). */
  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    val p = f.getAbsolutePath
    if (p != base && p.startsWith(base + java.io.File.separator)) rmTree(f)
  }
}
