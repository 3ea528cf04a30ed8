package graft.plans

import scala.util.matching.Regex

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Watermark
import graft.sources.{ObjectMeta, Store}

object ArchiveVerdictSpec {
  /** A store that only lists: fixed objects, some without an md5 (an
    * externally written object whose digest the store does not know). */
  class ListingStore(objects: Seq[ObjectMeta]) extends Store {
    def list(prefix: String): Seq[ObjectMeta] =
      objects.filter(_.name.startsWith(prefix)).sortBy(_.name)
    def read(name: String): Array[Byte] = throw new UnsupportedOperationException(name)
    def write(name: String, content: Array[Byte]): Unit = throw new UnsupportedOperationException(name)
    def copy(src: String, dst: String): Unit = throw new UnsupportedOperationException(src)
    def delete(name: String): Unit = throw new UnsupportedOperationException(name)
  }

  val WholeArchive = new Regex("(.*)")
  val Month = new Regex("""(.*/).*""")
  val DateDir = new Regex("""(.*/).*/.*""")
  val OptionalGroup = new Regex("(x/)?.*")
}

/** Tier equality of the archive batch verdict: the driver-side
  * [[ArchivePipeline.verdict]] against the relational form the pipeline
  * used before (window keep-first per (scope, md5), broadcast
  * `left_anti` against the scope catalog, [[Watermark.gatedAdvance]]),
  * on hand-built and seeded random batches. Seqnums within a batch are
  * distinct: `row_number`'s order on ties is unspecified.
  */
class ArchiveVerdictSpec extends SparkSpec {
  import ArchiveVerdictSpec._

  private def relational(fetched: Seq[FetchedRow], store: Store, re: Regex): BatchVerdict = {
    import spark.implicits._
    val all = spark.createDataset(fetched.map(r => (r.seqnum, r.name, r.md5, r.failed)))
      .toDF("seqnum", "name", "md5", "failed")
    val ok = all.filter(!col("failed"))
      .withColumn("scope", regexp_extract(col("name"), re.regex, 1))
    val batchNames = ok.select("name").as[String].collect().toSet
    val scopes = ok.select("scope").distinct().as[String].collect()
    val preExisting = scopes.flatMap(store.list).distinct
      .filterNot(o => batchNames.contains(o.name))
    val catDf = broadcast(spark.createDataset(preExisting.toSeq).toDF()
      .select(col("name").as("cat_name"), col("md5").as("cat_md5"))
      .withColumn("cat_scope", regexp_extract(col("cat_name"), re.regex, 1)))
    val w = Window.partitionBy(col("scope"), col("md5")).orderBy(col("seqnum"))
    val kept = ok
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      .join(catDf,
        col("md5") === col("cat_md5") && col("name") =!= col("cat_name") &&
          col("scope") === col("cat_scope"),
        "left_anti")
      .select("name").as[String].collect().toSeq
    val keptSet = kept.toSet
    val adv = Watermark.gatedAdvance(all, Nil, col("seqnum"), col("failed"))
      .select("watermark").as[Long].head()
    BatchVerdict(kept, batchNames.toSeq.sorted.filterNot(keptSet.contains),
      kept.sorted.lastOption, fetched.filter(_.failed).map(_.seqnum), adv)
  }

  private def driver(fetched: Seq[FetchedRow], store: Store, re: Regex): BatchVerdict =
    ArchivePipeline.verdict(fetched, ArchivePipeline.scopes(fetched, re).flatMap(store.list), re)

  private def assertTiersEqual(fetched: Seq[FetchedRow], stored: Seq[ObjectMeta],
                               re: Regex): BatchVerdict = {
    // the fetch stage has already written the batch's own objects
    val written = fetched.filterNot(_.failed)
      .map(r => ObjectMeta(r.name, Some(r.md5), 1L))
    val store = new ListingStore(
      stored.filterNot(o => written.exists(_.name == o.name)) ++ written)
    val d = driver(fetched, store, re)
    val r = relational(fetched, store, re)
    val clue = s"regex ${re.regex}, batch $fetched, store $stored"
    assert(d.kept.toSet == r.kept.toSet, clue)
    assert(d.duplicates == r.duplicates, clue)
    assert(d.failed == r.failed, clue)
    assert(d.newWatermark == r.newWatermark, clue)
    assert(d.promote == r.promote, clue)
    d
  }

  private def ok(seq: Long, name: String, md5: String) = FetchedRow(seq, name, md5, failed = false)
  private def bad(seq: Long) = FetchedRow(seq, s"<failed:$seq>", "", failed = true)
  private def obj(name: String, md5: Option[String]) = ObjectMeta(name, md5, 1L)

  test("duplicate bytes within a batch: first by seqnum wins in its scope") {
    val batch = Seq(ok(12, "F/2017/06/b", "m1"), ok(11, "F/2017/06/a", "m1"),
      ok(13, "F/2017/07/c", "m1"))
    val v = assertTiersEqual(batch, Nil, Month)
    assert(v.kept.toSet == Set("F/2017/06/a", "F/2017/07/c"))
    assert(v.duplicates == Seq("F/2017/06/b"))
    assert(v.promote.contains("F/2017/07/c") && v.newWatermark == 13L)
  }

  test("identical bytes in another scope are kept; duplicates of stored objects are not") {
    val stored = Seq(obj("F/2017/05/old", Some("m1")), obj("F/2017/06/old", Some("m2")))
    val batch = Seq(ok(1, "F/2017/06/a", "m1"), ok(2, "F/2017/06/b", "m2"))
    val v = assertTiersEqual(batch, stored, Month)
    assert(v.kept == Seq("F/2017/06/a") && v.duplicates == Seq("F/2017/06/b"))
    // under the optional-group regex every key's scope is "": the whole store
    val all = assertTiersEqual(batch, stored, OptionalGroup)
    assert(all.kept.isEmpty && all.duplicates == Seq("F/2017/06/a", "F/2017/06/b"))
  }

  test("stored objects without an md5 never make a duplicate") {
    val stored = Seq(obj("F/2017/06/x", None), obj("F/2017/06/y", Some("m9")))
    val v = assertTiersEqual(Seq(ok(5, "F/2017/06/a", "m1")), stored, Month)
    assert(v.kept == Seq("F/2017/06/a") && v.duplicates.isEmpty)
  }

  test("failures first, middle, last and all gate the watermark") {
    val a = ok(1, "F/2017/06/a", "m1")
    val c = ok(3, "F/2017/06/c", "m3")
    assert(assertTiersEqual(Seq(bad(1), ok(2, "F/2017/06/b", "m2"), c), Nil, Month)
      .newWatermark == 0L)
    assert(assertTiersEqual(Seq(a, bad(2), c), Nil, Month).newWatermark == 1L)
    assert(assertTiersEqual(Seq(a, ok(2, "F/2017/06/b", "m2"), bad(3)), Nil, Month)
      .newWatermark == 2L)
    val none = assertTiersEqual(Seq(bad(7), bad(8)), Nil, WholeArchive)
    assert(none.kept.isEmpty && none.promote.isEmpty && none.newWatermark == 6L)
    assert(none.failed == Seq(7L, 8L))
  }

  test("seeded random batches: driver verdict equals the relational verdict") {
    val rng = new scala.util.Random(1018)
    val md5s = Seq("m0", "m1", "m2", "m3")
    def name(kind: String, i: Int) = f"F/2017/${rng.nextInt(3) + 1}%02d/$kind$i"
    for (re <- Seq(WholeArchive, Month, DateDir, OptionalGroup); _ <- 1 to 12) {
      val stored = (0 until rng.nextInt(6)).map { i =>
        obj(name("old", i), if (rng.nextInt(4) == 0) None else Some(md5s(rng.nextInt(4))))
      }
      val n = rng.nextInt(7) + 1
      val seqs = rng.shuffle((1L to 40L).toList).take(n).sorted
      val failedAt: Set[Int] = rng.nextInt(6) match {
        case 0 => Set(0)
        case 1 => Set(n / 2)
        case 2 => Set(n - 1)
        case 3 => (0 until n).toSet
        case 4 => Set.empty
        case _ => (0 until n).filter(_ => rng.nextInt(3) == 0).toSet
      }
      val batch = seqs.zipWithIndex.map { case (s, i) =>
        // now and then the fetch overwrites a stored key
        val key = if (stored.nonEmpty && rng.nextInt(5) == 0) stored(rng.nextInt(stored.size)).name
                  else name("new", i)
        if (failedAt(i)) bad(s) else ok(s, key, md5s(rng.nextInt(4)))
      }
      assertTiersEqual(rng.shuffle(batch), stored, re)
    }
  }
}
