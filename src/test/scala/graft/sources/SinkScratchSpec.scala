package graft.sources

import graft.{ScratchFiles, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The sink-scratch lifecycle contract that sf100 attempt 12 broke twice
 *  over: (1) a FAILED write must not stay memoized as written (the
 *  poisoned-memo bug — three in-suite retries read missing/truncated
 *  output after ENOSPC), and (2) [[Sinks.cleanup]] must reap every output
 *  this process wrote AND let the next entry rebuild it from scratch
 *  (the per-query reaping that bounds the family's resident scratch to
 *  one output instead of ~16 GB at sf100). */
class SinkScratchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** The memoized output of `name`; fails the test if it was never written. */
  private def written(name: String): String =
    ScratchFiles.output(spark, name, dir)(_ => fail(s"$name has no output"))

  test("output runs a write exactly once while it keeps succeeding") {
    var runs = 0
    val first = ScratchFiles.output(spark, "spec_once_ok", dir) { _ => runs += 1 }
    val second = ScratchFiles.output(spark, "spec_once_ok", dir) { _ => runs += 1 }
    assert(runs == 1 && first == second)
  }

  test("a failed write heals: memo cleared, partial output removed, retry re-writes") {
    var partial = ""
    val boom = intercept[RuntimeException] {
      ScratchFiles.output(spark, "spec_once_heal", dir) { out =>
        // simulate ENOSPC mid-write: partial output lands, then the throw
        partial = out
        Files.write(Paths.get(out, "part-00000"), Array[Byte](1, 2, 3))
        throw new RuntimeException("disk full")
      }
    }
    assert(boom.getMessage == "disk full")
    // the partial directory must be gone — a retry that finds it would
    // read truncated data (attempt 12's UNABLE_TO_INFER_SCHEMA failure)
    assert(partial.nonEmpty && !Files.exists(Paths.get(partial)))
    var retried = false
    ScratchFiles.output(spark, "spec_once_heal", dir) { _ => retried = true }
    assert(retried, "the memo stayed poisoned after a failed write")
  }

  test("cleanup reaps the sink output and the next entry rebuilds it") {
    val n1 = Sinks.partitionPruning(spark, dir).count()
    val out = written("sink_partition_pruning")
    assert(n1 > 0 && Files.exists(Paths.get(out)))
    Sinks.cleanup(spark)
    assert(!Files.exists(Paths.get(out)), "cleanup left the sink output behind")
    // the memo must be cleared with the files: next entry re-writes and
    // the read-back still answers
    val n2 = Sinks.partitionPruning(spark, dir).count()
    assert(n2 == n1 && Files.exists(Paths.get(written("sink_partition_pruning"))))
  }

  test("cleanup drops the bucketed tables so the next entry re-registers them") {
    val n1 = Sinks.bucketedJoin(spark, dir).count()
    assert(n1 > 0)
    val before = spark.catalog.listTables().collect()
      .map(_.name).count(_.startsWith("graft_bkt_"))
    assert(before == 2, s"expected the bucketed pair registered, saw $before")
    Sinks.cleanup(spark)
    val after = spark.catalog.listTables().collect()
      .map(_.name).count(_.startsWith("graft_bkt_"))
    assert(after == 0, "cleanup left bucketed tables registered")
    assert(Sinks.bucketedJoin(spark, dir).count() == n1)
  }
}
