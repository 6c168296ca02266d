package graft.model

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, Path, RawLocalFileSystem}

/** The local file system under the `faultfs` scheme, with one armed fault
  * taken by the next `create` whose file name contains the fault's key: run
  * another writer just before the create, or tear the written stream after
  * some bytes. [[FaultFs.conf]] registers both the `FileSystem` and, through
  * Hadoop's `DelegateToFileSystem`, the `AbstractFileSystem` that
  * `FileContext` renames go through.
  */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = FaultFs.Root

  override def create(f: Path, overwrite: Boolean): FSDataOutputStream =
    FaultFs.take(f.getName) match {
      case Some(FaultFs.Before(_, writer)) =>
        writer()
        super.create(f, overwrite)
      case Some(FaultFs.Tear(_, after)) =>
        val real = super.create(f, overwrite)
        new FSDataOutputStream(new java.io.OutputStream {
          private var left = after
          override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
          override def write(b: Array[Byte], off: Int, len: Int): Unit = {
            real.write(b, off, math.min(len, left))
            left -= math.min(len, left)
            if (left == 0) throw new java.io.IOException("torn write")
          }
          override def close(): Unit = real.close()
        }, null)
      case None => super.create(f, overwrite)
    }
}

class FaultAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new FaultFs, conf, FaultFs.Scheme, false)

object FaultFs {
  val Scheme = "faultfs"
  val Root: URI = URI.create(s"$Scheme:///")

  sealed trait Fault { def key: String }
  final case class Before(key: String, writer: () => Unit) extends Fault
  final case class Tear(key: String, after: Int) extends Fault

  private val armed = new AtomicReference[Option[Fault]](None)

  def arm(fault: Fault): Unit = armed.set(Some(fault))
  def disarm(): Unit = armed.set(None)

  private def take(name: String): Option[Fault] =
    armed.getAndUpdate(f => if (f.exists(x => name.contains(x.key))) None else f)
      .filter(x => name.contains(x.key))

  def conf: Configuration = {
    val c = new Configuration()
    c.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)
    c.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[FaultAbstractFs].getName)
    c.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
    c
  }
}
