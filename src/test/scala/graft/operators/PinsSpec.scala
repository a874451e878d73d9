package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Pins' failure paths: what a scope frees on a refusal, what a freed
  * pin does when it is read again, what a returned lazy pin keeps, and
  * how pins are recognised. */
class PinsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def persistent(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a require refusal inside a scope frees every pin and cache it made") {
    val before = persistent()
    var inside = Set.empty[Int]
    // applyCdc's phantom-delete shape: pin a full-outer join, count the
    // key groups the artifact does not carry, refuse before the commit
    val err = intercept[IllegalArgumentException] {
      Pins.scope {
        val artifact = Pins.cache(spark.range(0, 100, 1, 4).toDF("k"))
        val deletes = spark.range(90, 110, 1, 4).toDF("k").withColumn("d", lit(1L))
        val joined = Pins.pin(
          artifact.withColumn("cnt", lit(1L)).join(deletes, Seq("k"), "full_outer"),
          eager = false)
        val phantom = joined.filter($"cnt".isNull).count()
        inside = persistent() -- before
        require(phantom == 0L, s"$phantom delete key group(s) not present")
        joined
      }
    }
    assert(err.getMessage.contains("10 delete key group(s)"))
    assert(inside.size == 2, s"the scope pinned and cached: $inside")
    assert((persistent() -- before).isEmpty)
  }

  test("a released pin that is read again fails, never returns rows") {
    Pins.scope {
      val p = Pins.pin(spark.range(0, 1000, 1, 4).toDF("id"), eager = true)
      assert(p.count() == 1000L)
      Pins.release(p)
      // block removal is asynchronous; the read fails once it is done
      eventually(timeout(30.seconds), interval(200.millis)) {
        val e = intercept[Exception](p.collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
        assert(msgs.exists(_.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")))
      }
    }
  }

  test("a returned frame over a lazy pin keeps the pins it still reads") {
    val before = persistent()
    var kept = Set.empty[Int]
    val n = Pins.scope {
      val out = Pins.scope {
        // coEdges' shape: a chain of lazy pins nothing has run yet
        val a = Pins.pin(spark.range(0, 100, 1, 4).toDF("id"), eager = false)
        val b = Pins.pin(a.select(($"id" * 2).as("id")), eager = false)
        val c = Pins.pin(b.filter($"id" % 3 === 0), eager = false)
        Pins.pin(spark.range(10).toDF("x"), eager = true) // nothing reads it
        c.agg(sum($"id"))
      }
      kept = persistent() -- before
      // the chain computes after the inner scope has exited
      assert(out.head().getLong(0) == 3366L)
      out.count()
    }
    assert(n == 1L)
    assert(kept.size == 3, s"kept $kept")
    // the outer scope's result reads none of them
    assert((persistent() -- before).isEmpty)
  }

  test("re-pinning a pin is a no-op; an RDD-backed frame gets its own pin") {
    Pins.scope {
      val p = Pins.pin(spark.range(10).toDF("id"), eager = true)
      assert(Pins.pin(p, eager = false) eq p)
      val rddFrame = spark.sparkContext.parallelize(Seq(1L, 2L, 3L), 2).toDF("id")
      val q = Pins.pin(rddFrame, eager = false)
      assert(!(q eq rddFrame))
      assert(q.count() == 3L)
    }
    // a cache the scope did not make is not the scope's to free
    val cached = spark.range(5).toDF("id").cache()
    try {
      Pins.scope(Pins.cache(cached).count())
      assert(cached.storageLevel != StorageLevel.NONE)
    } finally { cached.unpersist(); () }
  }
}
