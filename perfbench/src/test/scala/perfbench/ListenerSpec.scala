package perfbench

import org.apache.spark.scheduler.{SparkListenerBlockUpdated, SparkListenerUnpersistRDD}
import org.apache.spark.storage.{BlockUpdatedInfo, RDDBlockId, StorageLevel}
import org.scalatest.funsuite.AnyFunSuite

class ListenerSpec extends AnyFunSuite {
  private def update(l: Listener, rdd: Int, split: Int, level: StorageLevel, bytes: Long): Unit =
    l.onBlockUpdated(SparkListenerBlockUpdated(
      new BlockUpdatedInfo(null, RDDBlockId(rdd, split), level, bytes, 0L)))

  test("an RDD's unpersist removes its blocks from the storage timeline") {
    val l = new Listener
    update(l, 1, 0, StorageLevel.MEMORY_ONLY, 100)
    update(l, 1, 1, StorageLevel.MEMORY_ONLY, 50)
    update(l, 2, 0, StorageLevel.MEMORY_ONLY, 10)
    assert(l.storage == ((3, 160L)))
    l.onUnpersistRDD(SparkListenerUnpersistRDD(1))
    assert(l.storage == ((1, 10L)))
    assert(l.blocks.map(b => (b._2, b._3)).toSeq ==
      Seq((1, 100L), (2, 150L), (3, 160L), (1, 10L)))
    // an RDD the listener holds nothing of adds no timeline point
    l.onUnpersistRDD(SparkListenerUnpersistRDD(7))
    assert(l.blocks.size == 4)
  }

  test("a block update to an invalid level or to size 0 drops the block") {
    val l = new Listener
    update(l, 1, 0, StorageLevel.MEMORY_ONLY, 100)
    update(l, 1, 0, StorageLevel.MEMORY_ONLY, 40)
    assert(l.storage == ((1, 40L)))
    update(l, 1, 0, StorageLevel.NONE, 0)
    assert(l.storage == ((0, 0L)))
  }

  test("blocks stored before registration are seeded and unpersist removes them") {
    val l = new Listener
    l.seed(Seq((5, 3, 100L), (6, 0, 0L)))
    assert(l.storage == ((3, 100L)))
    update(l, 5, 1, StorageLevel.MEMORY_ONLY, 34)
    assert(l.storage == ((3, 101L)))
    l.onUnpersistRDD(SparkListenerUnpersistRDD(5))
    assert(l.storage == ((0, 0L)))
  }
}
