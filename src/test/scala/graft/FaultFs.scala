package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local filesystem under the `faultfs:` scheme, with a fault plan:
  * once [[FaultFs.arm]]ed with k, the k-th `rename` or `delete` through
  * it throws, and so does every later one until [[FaultFs.disarm]] — a
  * crash at that point, as far as the store can tell (Spark's own
  * output-committer renames count too). Registered as `fs.faultfs.impl`
  * in [[SparkSuite]]'s Hadoop conf; a store rooted at `faultfs:<dir>`
  * writes through it. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = FaultFs.Uri
  override def getScheme: String = FaultFs.Scheme

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.step(s"rename $src -> $dst")
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.step(s"delete $p")
    super.delete(p, recursive)
  }
}

object FaultFs {
  val Scheme = "faultfs"
  private val Uri = URI.create(s"$Scheme:///")

  // operations left before the fault; 0 = disarmed, < 0 = fired
  private val left = new AtomicInteger(0)

  def arm(k: Int): Unit = { require(k >= 1); left.set(k) }

  /** Disarms; whether the fault fired. */
  def disarm(): Boolean = left.getAndSet(0) < 0

  private def step(op: String): Unit =
    if (left.get != 0 && left.decrementAndGet() <= 0) {
      left.set(-1)
      throw new java.io.IOException(s"FaultFs: injected fault at $op")
    }
}
