package vfsidx.build

import org.apache.spark.sql.DataFrame
import vfsidx.SparkTestBase

/** The reserved-slot window of the generation protocol ([[Generations]]),
  * pinned for the trigram and numeric indexes (IncrementalSpec pins the
  * word index): a slot reserved by a crashed ingest must never be spanned
  * by a fold, its replay must seal a surviving, queryable generation, a
  * later fold crosses it once it is sealed, and vacuum reclaims exactly
  * the generations the folds retired. */
class GenerationalSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val rows: DataFrame =
    (0L until 240L).map(i => (i, s"row id${i}x body", i + 10000L))
      .toDF("doc_id", "text", "v").cache()

  private def slice(lo: Long, hi: Long): DataFrame =
    rows.filter($"doc_id" >= lo && $"doc_id" < hi)

  /** One index kind as the scenario drives it. */
  private case class Kind(
      ingest: (Int, DataFrame) => Unit,
      reserve: Int => Unit,
      maxBatch: () => Int,
      generations: () => Seq[(Int, Int)],
      compact: Int => Boolean,
      vacuum: () => Int,
      lookup: Long => Seq[Long])

  private def scenario(k: Kind): Unit = {
    k.ingest(0, slice(0, 40))
    k.ingest(1, slice(40, 80))
    // an ingest reserves slot 2 and crashes before sealing anything
    k.reserve(2)
    assert(k.maxBatch() == 2, "a reserved slot is visible to the allocator")
    k.ingest(3, slice(80, 120))
    k.ingest(4, slice(120, 160))
    k.ingest(5, slice(160, 200))
    assert(k.generations() == Seq((0, 0), (1, 1), (3, 3), (4, 4), (5, 5)))

    // any number of tiered rounds folds each side of the gap, never across it
    while (k.compact(2)) ()
    assert(k.generations() == Seq((0, 1), (3, 5)))

    // the replay seals slot 2: its generation survives and answers
    k.ingest(2, slice(200, 240))
    assert(k.generations() == Seq((0, 1), (2, 2), (3, 5)))
    assert(k.lookup(215L) == Seq(215L))

    // with the gap closed, a later fold crosses slot 2
    while (k.compact(1)) ()
    assert(k.generations() == Seq((0, 5)))
    for (id <- Seq(5L, 60L, 215L, 199L)) assert(k.lookup(id) == Seq(id), s"id $id")

    // retired: 0_0, 1_1 (into 0_1); 3_3, 4_4, 5_5 (into 3_5); 0_1, 2_2, 3_5
    assert(k.vacuum() == 8)
    assert(k.vacuum() == 0)
    assert(k.generations() == Seq((0, 5)))
    assert(k.lookup(215L) == Seq(215L))
  }

  test("trigram index: folds never span a reserved slot; its replay survives") {
    val d = tmpDir("gen_tri")
    val cfg = TrigramIndex.TriConfig(numBuckets = 2, saltThreshold = 100, shardSize = 64)
    scenario(Kind(
      ingest = (b, df) => TrigramIndex.ingestBatch(spark, df, "doc_id", "text", d, b, cfg),
      reserve = TrigramIndex.reserveSlot(spark, d, _),
      maxBatch = () => TrigramIndex.maxBatch(spark, d),
      generations = () => TrigramIndex.generations(spark, d),
      compact = n => TrigramIndex.compactTiered(spark, d, cfg.copy(maxGenerations = n),
        reclaim = false),
      vacuum = () => TrigramIndex.vacuum(spark, d),
      lookup = id => TrigramIndex.searchExact(spark, d, rows, "doc_id", "text", s"id${id}x")
        .select($"doc_id").as[Long].collect().toSeq.sorted))
  }

  test("numeric index: folds never span a reserved slot; its replay survives") {
    val root = tmpDir("gen_num")
    scenario(Kind(
      ingest = (b, df) => NumericIndex.ingestBatch(spark, df, "doc_id", "v", root, b,
        numBuckets = 2),
      reserve = NumericIndex.reserveSlot(spark, root, "v", _),
      maxBatch = () => NumericIndex.maxBatch(spark, root, "v"),
      generations = () => NumericIndex.generations(spark, root, "v"),
      compact = n => NumericIndex.compactTiered(spark, root, "v", maxGenerations = n,
        numBuckets = 2, reclaim = false),
      vacuum = () => NumericIndex.vacuum(spark, root, "v"),
      lookup = id => NumericIndex.point(spark, root, "v", id + 10000L)
        .as[Long].collect().toSeq.sorted))
    // the folded generation's stats were observed on its write
    val st = NumericIndex.stats(spark, root, "v").get
    assert(st.n_rows == 240L && st.max_doc_id == 239L && st.integral)
  }

  test("numeric generation stats: observed on the write, read back only on resume") {
    val root = tmpDir("gen_num_stats")
    NumericIndex.ingestBatch(spark, slice(0, 40), "doc_id", "v", root, 0, numBuckets = 2)
    val fresh = NumericIndex.stats(spark, root, "v").get
    assert(fresh.n_rows == 40L && fresh.max_doc_id == 39L)
    // crash between the data and stats commits: the resume reads both back
    IndexBuild.TableIO.rmrf(spark, NumericIndex.statsGenDir(root, "v", 0, 0))
    assert(NumericIndex.stats(spark, root, "v").isEmpty)
    NumericIndex.ingestBatch(spark, slice(0, 40), "doc_id", "v", root, 0, numBuckets = 2)
    val resumed = NumericIndex.stats(spark, root, "v").get
    assert((resumed.n_rows, resumed.max_doc_id, resumed.integral) ==
      ((fresh.n_rows, fresh.max_doc_id, fresh.integral)))
    assert(resumed.quantiles.toSeq == fresh.quantiles.toSeq)
    // an empty batch seals an empty generation with the -1 watermark
    NumericIndex.ingestBatch(spark, slice(0, 0), "doc_id", "v", root, 1, numBuckets = 2)
    assert(NumericIndex.generations(spark, root, "v") == Seq((0, 0), (1, 1)))
    val empty = spark.read.parquet(NumericIndex.statsGenDir(root, "v", 1, 1))
      .as[NumStats].head()
    assert(empty.n_rows == 0L && empty.max_doc_id == -1L && empty.quantiles.isEmpty)
  }
}
