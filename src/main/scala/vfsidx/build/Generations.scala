package vfsidx.build

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import vfsidx.build.IndexBuild.TableIO

/** The LOG-STRUCTURED GENERATION PROTOCOL shared by the word, trigram and
  * numeric indexes — reserve slot → seal generation → fold by size tier →
  * vacuum — written once and instantiated per index from a small
  * description (the reference's per-batch write files merged into sorted
  * segments in the background, /root/reference/column.go:418-604):
  *
  *  - a SLOT is an ingest unit's batch id. Its marker dir is created
  *    ([[reserveSlot]]) before the allocation is durably recorded, so every
  *    max-based allocator ([[maxBatch]]) skips past it even if the
  *    reserving actor crashes. Markers are siblings named `batch=N` (the
  *    word and trigram runs) or `gen=L_N` (the numeric index, which has no
  *    runs stage: its data generation dirs are the markers).
  *  - a GENERATION `gen=lo_hi` under `listing` covers slots lo..hi and is
  *    committed once every one of its `tables` holds `_SUCCESS`.
  *  - a FOLD seals the union of CONTIGUOUS generations as one wider
  *    generation (`seal`, the kind's own build over the window). The inputs
  *    are not deleted: the containment rule hides them from
  *    [[generations]] the moment the wider one commits, readers already
  *    mid-scan keep their files, and [[vacuum]] reclaims them later.
  *
  * Per-generation stats live in the `stats` table; `statCols` are read for
  * every generation in ONE job. The FIRST column is the additive size
  * measure the tiering policy weighs; `totals` folds a window's rows into
  * what `seal` needs to build the combined generation. `check` vets every
  * listing (the word index's format gate). */
private[vfsidx] final class Generations[T](
    spark: SparkSession,
    listing: String,
    tables: (Int, Int) => Seq[String],
    slot: Int => String,
    stats: (Int, Int) => String,
    statCols: Seq[String],
    totals: Seq[Array[Long]] => T,
    seal: (Seq[(Int, Int)], T) => Unit,
    check: Seq[(Int, Int)] => Unit = (_: Seq[(Int, Int)]) => ()) {
  import Generations._

  private def children(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty
  }

  /** Highest slot PRESENT on disk (committed, in flight or merely
    * reserved), -1 for none — the monotone slot allocator. */
  def maxBatch: Int =
    children(new Path(slot(0)).getParent.toString).map(_.getPath.getName)
      .collect { case slotRe(b) => b.toInt }
      .foldLeft(-1)(math.max)

  /** Reserve slot `b` by creating its marker dir. */
  def reserveSlot(b: Int): Unit = {
    val p = new Path(slot(b))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
  }

  /** Has generation `gen=l_h` committed every table? */
  def isSealed(l: Int, h: Int): Boolean = tables(l, h).forall(TableIO.done(spark, _))

  /** Every committed generation, including RETIRED ones (contained in a
    * wider committed generation, not yet vacuumed). */
  private def committed: Seq[(Int, Int)] =
    children(listing).filter(_.isDirectory).map(_.getPath.getName).collect {
      case genRe(lo, hi) if isSealed(lo.toInt, hi.toInt) => (lo.toInt, hi.toInt)
    }

  /** The generations queries read, ascending: committed ones minus the
    * retired — that hides the whole window between a fold's commit and its
    * vacuum, so reads stay exact throughout. */
  def generations: Seq[(Int, Int)] = {
    val all = committed
    val gens = all.filterNot(isRetired(all, _)).sortBy(_._1)
    check(gens)
    gens
  }

  /** The survivor generations' `table` dirs read as one frame (explicit
    * leaf dirs: no partition column is inferred). */
  def read(table: (Int, Int) => String): DataFrame = {
    val gens = generations
    require(gens.nonEmpty, s"no completed generations under $listing")
    spark.read.parquet(gens.map { case (l, h) => table(l, h) }: _*)
  }

  /** Delete RETIRED generation dirs — the Iceberg/Delta expire-snapshots
    * pattern: a fold only COMMITS the combined generation; reclaiming
    * happens later, after a grace period longer than any running query.
    * Returns the number reclaimed. */
  def vacuum(): Int = {
    val all = committed
    val retired = all.filter(isRetired(all, _))
    retired.foreach { case (l, h) => tables(l, h).foreach(TableIO.rmrf(spark, _)) }
    retired.size
  }

  /** `statCols` (cast to long) of every row of each generation's stats
    * table, in ONE job: all tables are read at once and each row is mapped
    * back to its `gen=lo_hi` dir via `input_file_name` — one driver
    * round-trip instead of one tiny job per generation (a tiered policy
    * asks on every trigger). */
  private def statPerGen(gens: Seq[(Int, Int)]): Map[(Int, Int), Seq[Array[Long]]] = {
    import spark.implicits._
    spark.read.parquet(gens.map { case (l, h) => stats(l, h) }: _*)
      .select(input_file_name().as("f"),
        array(statCols.map(c => col(c).cast("long")): _*).as("vals"))
      .as[(String, Seq[Long])]
      .collect()
      .groupBy { case (f, _) =>
        new Path(f).getParent.getName match {
          case genRe(lo, hi) => (lo.toInt, hi.toInt)
          case _ => throw new IllegalStateException(s"no gen= in stats path $f")
        }
      }
      .map { case (g, rows) => g -> rows.toSeq.map(_._2.toArray) }
  }

  /** Seal the CONTIGUOUS generations `window` as one covering their union;
    * `st` holds (at least) the window's stats rows. A gap in the window is
    * a reserved-but-unsealed slot — a crashed streaming epoch or refresh
    * awaiting replay. Committing a range spanning it would (a) bury the
    * replay's later `gen=slot_slot` under the containment rule, so vacuum
    * would delete it — silent data loss — and (b) make a second fold of
    * the combined range read the foreign slot's runs. The policies below
    * split at gaps ([[contiguousGroups]]); the require pins it. */
  private def fold(window: Seq[(Int, Int)], st: Map[(Int, Int), Seq[Array[Long]]]): Unit = {
    require(window.size >= 2, "fold needs at least two generations")
    window.zip(window.tail).foreach { case ((_, h1), (l2, _)) =>
      require(l2 == h1 + 1,
        s"fold window under $listing spans a coverage gap between batch $h1 " +
          s"and $l2 (a reserved slot); fold contiguous groups only")
    }
    seal(window, totals(window.flatMap(st)))
  }

  /** SIZE-TIERED bounded compaction — the refresh/stream auto-fold policy.
    * Triggers only above `maxGenerations` survivors, then folds ONE window
    * of 2..`fanout` adjacent similar-sized generations, the cheapest one
    * ([[pickTieredWindow]]), never across a coverage gap. Work per
    * compaction is bounded by the folded tier, not the corpus: N same-sized
    * refreshes re-shuffle O(N log N) in total instead of the O(N·corpus) a
    * fold-everything policy pays. The sizes and the fold's totals come off
    * one stats job. `reclaim = false` is for callers serving concurrent
    * readers, which vacuum on their own later schedule. True when a fold
    * happened. */
  def compactTiered(maxGenerations: Int, fanout: Int, maxFoldDocs: Long,
                    reclaim: Boolean): Boolean = {
    val gens = generations
    gens.size > maxGenerations && {
      val st = statPerGen(gens)
      val size = st.map { case (g, rows) => g -> rows.map(_(0)).sum }
      pickTieredWindow(contiguousGroups(gens), size, fanout, maxFoldDocs) match {
        case Some(win) =>
          fold(win, st)
          if (reclaim) vacuum()
          true
        case None => false
      }
    }
  }

  /** Tail compaction: fold every generation except the (large) base, one
    * pass per contiguous group — heavier than [[compactTiered]], lighter
    * than [[remerge]]; the base is only re-shuffled by a remerge. */
  def compactTail(reclaim: Boolean): Boolean = {
    val gens = generations
    gens.size >= 3 && foldGroups(gens.drop(1), reclaim)
  }

  /** Full compaction: fold ALL generations into one per contiguous group
    * (reference M4/M8). Usually that is ONE generation; a reserved but
    * unsealed slot splits coverage until it replays. */
  def remerge(reclaim: Boolean): Unit = {
    val gens = generations
    require(gens.nonEmpty, s"no generations under $listing")
    if (gens.size >= 2) foldGroups(gens, reclaim)
  }

  private def foldGroups(gens: Seq[(Int, Int)], reclaim: Boolean): Boolean = {
    val groups = contiguousGroups(gens).filter(_.size >= 2)
    if (groups.nonEmpty) {
      val st = statPerGen(groups.flatten)
      groups.foreach(fold(_, st))
    }
    if (reclaim) vacuum()
    groups.nonEmpty
  }
}

private[vfsidx] object Generations {

  private val genRe = """gen=(\d+)_(\d+)""".r
  private val slotRe = """(?:batch=|gen=\d+_)(\d+)""".r

  /** The slots a generation window covers. */
  def batches(window: Seq[(Int, Int)]): Seq[Int] = window.flatMap { case (l, h) => l to h }

  private def isRetired(all: Seq[(Int, Int)], g: (Int, Int)): Boolean =
    all.exists(o => o != g && o._1 <= g._1 && g._2 <= o._2)

  /** Split sorted generations into maximal CONTIGUOUSLY-COVERED groups
    * (adjacent gens with `l2 == h1 + 1`). A coverage gap is a reserved but
    * unsealed slot; no fold window ever spans one — the gap closes when the
    * slot replays, and later compactions fold across it normally. */
  def contiguousGroups(gens: Seq[(Int, Int)]): Seq[Seq[(Int, Int)]] =
    gens.foldLeft(Vector.empty[Vector[(Int, Int)]]) { (acc, g) =>
      acc.lastOption match {
        case Some(grp) if grp.last._2 + 1 == g._1 => acc.init :+ (grp :+ g)
        case _ => acc :+ Vector(g)
      }
    }

  /** Choose the cheapest fold window for SIZE-TIERED compaction: the run
    * of 2..`fanout` adjacent (contiguously-covered) generations minimizing
    * total size, grown greedily around the globally smallest adjacent pair
    * while the next neighbor stays similar-sized (≤ 2× the window mean).
    * Folding always merges similar-magnitude neighbors first, so a refresh
    * stream pays O(current tier) per compaction — never O(total ingested)
    * — and the base generation is only re-shuffled once smaller tiers have
    * accumulated to its own magnitude (LSM size-tiering; the reference's
    * single merge-everything pass, /root/reference/column.go:418-604,
    * replaced by bounded amortized work). None when no group has 2 gens.
    *
    * `maxDocs` bounds the WINDOW: growth stops before exceeding it, and if
    * even the cheapest adjacent pair is larger, no window is returned —
    * the work-bounded analogue of the reference's wall-clock
    * `MergeDuration` deadline (/root/reference/config.go:5-9,
    * /root/reference/column.go:157-163). Query-time merge-on-search passes
    * a finite cap so a search is never blocked behind folding a giant
    * tier; the refresh/stream policies keep it unbounded (skipping folds
    * there would let the generation count grow without limit). */
  def pickTieredWindow(groups: Seq[Seq[(Int, Int)]], size: ((Int, Int)) => Long,
                       fanout: Int,
                       maxDocs: Long = Long.MaxValue): Option[Seq[(Int, Int)]] = {
    val pairs = for (g <- groups if g.size >= 2; i <- 0 until g.size - 1)
      yield (g, i)
    if (pairs.isEmpty) return None
    val (grp, i0) = pairs.minBy { case (g, i) => size(g(i)) + size(g(i + 1)) }
    var lo = i0
    var hi = i0 + 1
    var total = size(grp(lo)) + size(grp(hi))
    if (total > maxDocs) return None
    var grown = true
    while (grown && hi - lo + 1 < math.max(2, fanout)) {
      grown = false
      val mean = total.toDouble / (hi - lo + 1)
      val cap = math.max(2.0 * mean, 1.0)
      val lSz = if (lo > 0) size(grp(lo - 1)) else Long.MaxValue
      val rSz = if (hi < grp.size - 1) size(grp(hi + 1)) else Long.MaxValue
      if ((lSz <= cap || rSz <= cap) && total + math.min(lSz, rSz) <= maxDocs) {
        if (lSz <= rSz) { lo -= 1; total += lSz } else { hi += 1; total += rSz }
        grown = true
      }
    }
    Some(grp.slice(lo, hi + 1))
  }
}
