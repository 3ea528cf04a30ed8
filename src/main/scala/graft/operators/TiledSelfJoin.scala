package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD

/** Triangle-tiled all-pairs self-join: the distributed harness for the
  * exact-similarity kernels ([[SimilarityJoin]],
  * [[graft.plans.CosineSelfJoinExec]]).
  *
  * Rows hash into `b` blocks; each unordered block pair (i ≤ j) is a
  * *tile*, and every tile becomes one reduce task that receives exactly
  * the rows of its two blocks and runs a tight JVM kernel over them.
  * Each row is replicated to its `b` tiles through ONE shuffle — the
  * driver never materializes the corpus (contrast: the naive form of
  * this operator collects+broadcasts one whole side) and per-task memory
  * is 2·N/b rows, tunable independently of N.
  *
  * Cost model: shuffle volume N·b, comparisons N²/2 spread over
  * b(b+1)/2 tasks. b defaults to the smallest block count whose tile
  * count covers the cluster parallelism; at larger N, raise
  * `graft.similarity.blocks` so N/b stays memory-bounded — the
  * comparison count is unchanged, only the replication factor grows
  * (the standard all-pairs trade; candidate pruning via LSH — q19/q23 —
  * remains the way to beat N², this operator is the exact-verify tier).
  */
object TiledSelfJoin {

  /** Runtime-conf key overriding the block count. */
  val BlocksConfKey = "graft.similarity.blocks"

  /** Smallest b with b(b+1)/2 ≥ parallelism, so every core gets a tile. */
  def blocksFor(parallelism: Int): Int = {
    var b = 1
    while (b * (b + 1) / 2 < parallelism && b < 1024) b += 1
    b
  }

  def defaultBlocks(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption(BlocksConfKey).map(_.toInt)
      .getOrElse(blocksFor(spark.sparkContext.defaultParallelism))

  /** Row-major index of tile (i, j), i ≤ j, in the upper triangle. */
  def tileIndex(i: Int, j: Int, b: Int): Int =
    i * b - i * (i - 1) / 2 + (j - i)

  /** Inverse of [[tileIndex]]: tile id → (blockI, blockJ). */
  def tileBlocks(t: Int, b: Int): (Int, Int) = {
    var i = 0
    var rem = t
    while (rem >= b - i) { rem -= b - i; i += 1 }
    (i, i + rem)
  }

  private final class TilePartitioner(override val numPartitions: Int)
      extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Runs `kernel` once per tile. The kernel sees (left, right, diag):
    * on a diagonal tile left eq right and it must compare index pairs
    * i < j once; off-diagonal it compares the full left × right cross
    * (ids are in distinct blocks, so no pair repeats across tiles).
    * Kernels order each emitted pair by id, so output ids satisfy
    * a_id < b_id regardless of block assignment.
    */
  def apply[T, R: ClassTag](rows: RDD[(Long, T)], blocks: Int)(
      kernel: (Array[(Long, T)], Array[(Long, T)], Boolean) => Iterator[R]): RDD[R] = {
    val b = math.max(1, blocks)
    val numTiles = b * (b + 1) / 2
    // false = the row acts as block i (left side) of the tile, true = block j
    val keyed: RDD[(Int, (Boolean, Long, T))] = rows.flatMap { case (id, v) =>
      // byteswap64 mix: sequential or stratified ids still spread evenly
      val blk = Math.floorMod(scala.util.hashing.byteswap64(id), b).toInt
      val out = new ArrayBuffer[(Int, (Boolean, Long, T))](b)
      var j = blk
      while (j < b) { out += ((tileIndex(blk, j, b), (false, id, v))); j += 1 }
      var i = 0
      while (i < blk) { out += ((tileIndex(i, blk, b), (true, id, v))); i += 1 }
      out
    }
    keyed.partitionBy(new TilePartitioner(numTiles))
      .mapPartitionsWithIndex { (tile, it) =>
        val (bi, bj) = tileBlocks(tile, b)
        val diag = bi == bj
        val lb = Array.newBuilder[(Long, T)]
        val rb = Array.newBuilder[(Long, T)]
        it.foreach { case (_, (isRight, id, v)) =>
          if (isRight) rb += ((id, v)) else lb += ((id, v))
        }
        val left = lb.result()
        val right = if (diag) left else rb.result()
        if (left.isEmpty || right.isEmpty) Iterator.empty
        else kernel(left, right, diag)
      }
  }
}
