package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local filesystem under the `crashfs` scheme, with one armed
  * crash point: the first rename or delete the armed predicate picks
  * throws [[InjectedCrash]] instead of running, leaving everything
  * done before it on disk — a writer process dying at that step.
  * Paths are `crashfs://` plus an absolute local path; register the
  * scheme with [[CrashFs.register]]. */
class CrashFs extends RawLocalFileSystem {
  override def getScheme: String = "crashfs"
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.check(CrashFs.Rename(src, dst))
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.check(CrashFs.Delete(p))
    super.delete(p, recursive)
  }
}

/** [[CrashFs]] for `FileContext` callers (the sidecar writer's atomic
  * replace on a scheme other than `file`). */
class CrashAbstractFs(uri: java.net.URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new CrashFs, conf, "crashfs", false)

class InjectedCrash(msg: String) extends java.io.IOException(msg)

object CrashFs {
  sealed trait Op
  final case class Rename(src: Path, dst: Path) extends Op
  final case class Delete(p: Path) extends Op

  @volatile private var armed: Option[Op => Boolean] = None

  def register(conf: Configuration): Unit = {
    conf.set("fs.crashfs.impl", classOf[CrashFs].getName)
    conf.set("fs.AbstractFileSystem.crashfs.impl", classOf[CrashAbstractFs].getName)
  }

  /** A fresh collection path on the crashing filesystem. */
  def tmpPath(prefix: String): String =
    "crashfs://" + java.nio.file.Files.createTempDirectory(prefix).toString + "/col"

  /** Run `body` with `point` armed; the crash it injects is returned.
    * Fails if `body` never reaches the point. */
  def crashAt(point: Op => Boolean)(body: => Any): InjectedCrash = {
    armed = Some(point)
    try {
      body
      throw new AssertionError("the armed crash point was never reached")
    } catch {
      case c: InjectedCrash => c
    } finally armed = None
  }

  private def check(op: Op): Unit = armed.foreach { point =>
    if (point(op)) {
      armed = None
      throw new InjectedCrash(s"injected crash at $op")
    }
  }
}
