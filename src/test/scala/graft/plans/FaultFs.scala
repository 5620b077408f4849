package graft.plans

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A `fault:///` filesystem for crash tests: the local filesystem,
  * except under an ARMED root dir. There it counts every store-level
  * mutation (a `create`, `rename` or `delete` that touches no
  * `_temporary` path — task output inside a Spark job is not a
  * store-level step) and fails the armed k-th one. From then on the
  * root is a crashed process's disk: every mutation under it fails,
  * task output and `mkdirs` included, until it is disarmed. Roots arm
  * independently, so crash runs can overlap. Registered per session
  * through `fs.fault.impl` (`FaultFs.register`); production code has
  * no hook.
  */
class FaultFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = FaultFs.Uri
  override def getScheme: String = "fault"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.step("rename", src, dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.step("delete", p)
    super.delete(p, recursive)
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    FaultFs.armedFor(Seq(p)).foreach(_.checkAlive())
    super.mkdirs(p, permission)
  }
}

object FaultFs {
  val Uri: java.net.URI = java.net.URI.create("fault:///")

  private final class Armed(failAt: Int) {
    private val count = new AtomicInteger(0)
    @volatile private var dead = false
    val log = new ConcurrentLinkedQueue[String]()

    def checkAlive(): Unit =
      if (dead) throw new java.io.IOException("filesystem crashed")

    def step(op: String, paths: Seq[String]): Unit = {
      checkAlive()
      if (!paths.exists(_.split('/').contains("_temporary"))) {
        val n = count.incrementAndGet()
        if (n >= failAt) {
          dead = true
          throw new java.io.IOException(s"injected fault at mutation $n: $op")
        }
        log.add(s"$op ${paths.mkString(" ")}")
      }
    }
  }

  private val armed = new ConcurrentHashMap[String, Armed]()

  def register(conf: org.apache.hadoop.conf.Configuration): Unit = {
    conf.set("fs.fault.impl", classOf[FaultFs].getName)
    conf.set("fs.fault.impl.disable.cache", "true")
  }

  /** Count mutations under local dir `root`; fail the k-th and all later. */
  def arm(root: String, k: Int = Int.MaxValue): Unit =
    armed.put(root, new Armed(k))

  /** Stop watching `root`; its counted mutations, as `"<op> <paths>"`
    * lines in order.
    */
  def disarm(root: String): Seq[String] =
    Option(armed.remove(root)).map(_.log.asScala.toList).getOrElse(Nil)

  private def armedFor(ps: Seq[Path]): Option[Armed] = {
    val paths = ps.map(_.toUri.getPath)
    armed.asScala.collectFirst {
      case (root, a) if paths.exists(p => p == root || p.startsWith(s"$root/")) => a
    }
  }

  private def step(op: String, ps: Path*): Unit =
    armedFor(ps).foreach(_.step(op, ps.map(_.toUri.getPath)))
}
