package perfbench

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** Runs independent generator chunks on a small fixed pool, results in input order. */
object Parallel {
  val Threads = 4

  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(Threads)
    try pool.invokeAll(xs.map(x => new Callable[B] { def call(): B = f(x) }).asJava)
      .asScala.toSeq.map(_.get())
    finally pool.shutdownNow()
  }
}
