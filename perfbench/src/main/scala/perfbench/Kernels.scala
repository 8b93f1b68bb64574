package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Single-thread timed calls into the graft kernel objects behind the
  * curation steps' native expressions, over the inputs those steps read:
  * the `functions` layer's own numbers, without tracing inside the
  * program. MinHash and SimHash run under dd2/dd3, CharTrigrams under t7,
  * SortedIntersect under tc1 and VectorKernels under ss3.
  */
object Kernels {
  @volatile private var sink = 0L

  def measure(spark: SparkSession, data: String, res: Result): Unit = {
    val words = split(col("text"), " ")
    // Word-bigram shingles hashed like graft's MinHash path (crc32 mod a
    // prime), and raw 64-bit token hashes for SimHash.
    val shingles = transform(sequence(lit(0), greatest(size(words) - 2, lit(0))),
      i => crc32(concat(element_at(words, i + 1), lit(" "),
        coalesce(element_at(words, i + 2), lit("")))) % 1000000007L)
    val docs = graft.Tables.documents(spark, data).orderBy("doc_id").select(
      lower(col("text")), shingles.as("sh"), transform(words, w => xxhash64(w)).as("th")).collect()
    val text = docs.map(r => UTF8String.fromString(r.getString(0)))
    def longs(rows: Array[org.apache.spark.sql.Row], i: Int) =
      rows.map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Long](i).toArray): ArrayData)
    val (sh, th) = (longs(docs, 1), longs(docs, 2))
    // Sorted forward neighbor lists (v > u) of the co-purchase graph tc1
    // counts triangles in, for the first nodes by id; consecutive lists
    // are intersected.
    val adj = graft.operators.Graph.copurchaseEdges(spark, data)
      .groupBy(col("u").cast("long").as("n"))
      .agg(sort_array(collect_list(col("v").cast("long"))).as("nbrs"))
      .orderBy("n").limit(2000).select("nbrs").collect()
    val sets = longs(adj, 0)
    val vecs = graft.Tables.embeddings(spark, data).orderBy("vec_id").collect()
      .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](1).map(_.toDouble).toArray): ArrayData)
    val rng = new scala.util.Random(7)
    val (a, b) = (Array.fill(96)(1L + rng.nextInt(Int.MaxValue)), Array.fill(96)(rng.nextInt(Int.MaxValue).toLong))

    def time(name: String, n: Int)(call: Int => Long): Unit = {
      val samples = mutable.ArrayBuffer[Double]()
      var reps = 0
      while (reps < 7) {
        var calls = 0L
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < 30000000L) {
          var i = 0
          while (i < n) { sink += call(i); i += 1 }
          calls += n
        }
        samples += (System.nanoTime() - t0).toDouble / calls
        reps += 1
      }
      res.layer(s"functions.$name.ns_per_call") = Stats.median(samples.toSeq)
    }

    time("MinHashKernel", sh.length)(i => MinHashKernel.sig(sh(i), a, b, 1000000007L).getLong(0))
    time("SimHashKernel", th.length)(i => SimHashKernel.sig(th(i)))
    time("CharTrigramsKernel", text.length)(i => CharTrigramsKernel.trigrams(text(i)).numElements())
    time("SortedIntersectKernel", sets.length - 1)(i => SortedIntersectKernel.count(sets(i), sets(i + 1)))
    time("VectorKernels", vecs.length - 1)(i => VectorKernels.dot(vecs(i), vecs(i + 1)).toLong)
  }
}
