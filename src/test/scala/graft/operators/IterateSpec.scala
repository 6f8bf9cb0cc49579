package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The round policy's rule: an observed count is a hint that may keep a
  * loop running; only an exact count over the checkpointed frame ends it. */
class IterateSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark
  import spark.implicits._

  test("an inflated observed count cannot end the loop before the exact count is zero") {
    // a kNN-shaped drain over five open ids: each round retires only the
    // smallest one, but its observed retired count claims all five (what
    // double-counting task retries could report), and the open set's
    // observed count reads zero
    var open = new Iterate.Round(
      spark.range(5).toDF("id").localCheckpoint(), lit(true), Some(0L))
    val retired = scala.collection.mutable.ArrayBuffer.empty[Long]
    var rounds = 0
    Iterate.loop("drain", maxIter = 10) { _ =>
      rounds += 1
      val first = open.frame.agg(min($"id")).head().getLong(0)
      val step = new Iterate.Round(
        open.frame.withColumn("__done", $"id" === first).localCheckpoint(),
        $"__done", Some(5L))
      assert(step.observed == 5L && step.exact == 1L)
      if (step.observed > 0) {
        retired ++= step.frame.filter($"__done").select($"id").as[Long].collect()
        open = new Iterate.Round(
          step.frame.filter(!$"__done").drop("__done").localCheckpoint(),
          lit(true), Some(0L))
      }
      open.nonEmpty
    }
    assert(rounds == 5)
    assert(retired.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("checkpoint counts in the same action; the loop guard releases its inputs") {
    val round = Iterate.checkpoint(spark.range(10).toDF("id"), $"id" % 3 === 0)
    assert(round.observed == 4L && round.exact == 4L && round.nonEmpty)
    // a missing hint falls back to the exact count
    assert(new Iterate.Round(round.frame, $"id" > 7, None).observed == 2L)

    val input = spark.range(3).toDF("id").persist()
    input.count()
    val e = intercept[IllegalArgumentException] {
      Iterate.loop("spin", maxIter = 3, input)(_ => true)
    }
    assert(e.getMessage.contains("spin did not converge within 3 rounds"))
    assert(input.storageLevel == StorageLevel.NONE)
  }
}
