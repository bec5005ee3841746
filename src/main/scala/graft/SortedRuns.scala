package org.apache.spark

import org.apache.spark.internal.config.{SHUFFLE_SORT_INIT_BUFFER_SIZE,
  SHUFFLE_SPILL_MAX_SIZE_FORCE_SPILL_THRESHOLD, SHUFFLE_SPILL_NUM_ELEMENTS_FORCE_SPILL_THRESHOLD}
import org.apache.spark.rdd.RDD
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.collection.unsafe.sort.{PrefixComparators, RecordComparator,
  UnsafeExternalSorter}

import scala.reflect.ClassTag

/** Key-sorted RDD shuffles on Spark's Tungsten sorter.
  *
  * `repartitionAndSortWithinPartitions` sorts the reduce side in an
  * `ExternalSorter` of boxed tuples: it accounts its memory by sampling
  * object sizes (`SizeEstimator`) and sorts with a `TimSort` over boxed
  * keys, which together cost more than the operators that read the runs.
  * [[SortedRuns.byKey]] instead shuffles with `partitionBy` (no key
  * ordering, so the read is a plain stream) and sorts each partition with
  * the `UnsafeExternalSorter` under SQL's `SortExec`: records are copied
  * into pages accounted in bytes through the task's `TaskMemoryManager`,
  * the sorter spills under memory pressure, and the signed `Long` key is
  * the record's sort prefix, radix-sorted with no record comparison. The
  * sorter reads the Spark confs `UnsafeExternalRowSorter` reads (initial
  * buffer size, page size and the two force-spill thresholds) and is freed
  * once drained, or at task completion when the reader stops early.
  *
  * `TaskContext.taskMemoryManager` is `private[spark]`, hence this
  * same-package bridge (see [[org.apache.spark.sql.GraftColumnBridge]]).
  */
object SortedRuns {

  /** How a value is stored as a sorter record: as its longs. */
  sealed abstract class Layout[V] extends Serializable {
    private[SortedRuns] def insert(sorter: UnsafeExternalSorter, key: Long, v: V,
                                   scratch: Array[Long]): Unit
    private[SortedRuns] def read(base: AnyRef, offset: Long, bytes: Int): V
  }

  implicit object LongValues extends Layout[Long] {
    private[SortedRuns] def insert(sorter: UnsafeExternalSorter, key: Long, v: Long,
                                   scratch: Array[Long]): Unit = {
      scratch(0) = v
      sorter.insertRecord(scratch, Platform.LONG_ARRAY_OFFSET, 8, key, false)
    }
    private[SortedRuns] def read(base: AnyRef, offset: Long, bytes: Int): Long =
      Platform.getLong(base, offset)
  }

  implicit object LongArrayValues extends Layout[Array[Long]] {
    private[SortedRuns] def insert(sorter: UnsafeExternalSorter, key: Long, v: Array[Long],
                                   scratch: Array[Long]): Unit =
      sorter.insertRecord(v, Platform.LONG_ARRAY_OFFSET, v.length * 8, key, false)
    private[SortedRuns] def read(base: AnyRef, offset: Long, bytes: Int): Array[Long] = {
      val v = new Array[Long](bytes >>> 3)
      Platform.copyMemory(base, offset, v, Platform.LONG_ARRAY_OFFSET, bytes)
      v
    }
  }

  /** `rdd` shuffled by `part`, each partition sorted by key (ascending,
    * signed); the order among equal keys is unspecified. */
  def byKey[V: ClassTag: Layout](rdd: RDD[(Long, V)], part: Partitioner): RDD[(Long, V)] =
    rdd.partitionBy(part).mapPartitions(sorted(_, implicitly[Layout[V]]), preservesPartitioning = true)

  /** Keys share the record's whole order, so ties compare equal. */
  private object Ties extends RecordComparator {
    override def compare(l: AnyRef, lOff: Long, lLen: Int, r: AnyRef, rOff: Long, rLen: Int): Int = 0
  }

  private def sorted[V](records: Iterator[(Long, V)], layout: Layout[V]): Iterator[(Long, V)] = {
    val ctx = TaskContext.get()
    val env = SparkEnv.get
    val memory = ctx.taskMemoryManager()
    val sorter = UnsafeExternalSorter.create(memory, env.blockManager, env.serializerManager, ctx,
      () => Ties, PrefixComparators.LONG,
      env.conf.get(SHUFFLE_SORT_INIT_BUFFER_SIZE).toInt, memory.pageSizeBytes(),
      env.conf.get(SHUFFLE_SPILL_NUM_ELEMENTS_FORCE_SPILL_THRESHOLD),
      env.conf.get(SHUFFLE_SPILL_MAX_SIZE_FORCE_SPILL_THRESHOLD),
      true) // the prefix is the whole key: radix sort
    val scratch = new Array[Long](1)
    records.foreach { case (k, v) => layout.insert(sorter, k, v, scratch) }
    val it = sorter.getSortedIterator
    new Iterator[(Long, V)] {
      private var open = true
      def hasNext: Boolean = open && {
        if (!it.hasNext) { sorter.cleanupResources(); open = false }
        open
      }
      // the record is copied out before the next loadNext reuses its bytes
      def next(): (Long, V) = {
        if (!hasNext) throw new NoSuchElementException
        it.loadNext()
        (it.getKeyPrefix, layout.read(it.getBaseObject, it.getBaseOffset, it.getRecordLength))
      }
    }
  }
}
