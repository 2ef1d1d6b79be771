package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical-design analog of the reference's Postgres DDL hardening
  * (reference: database/db_client.py:94-150; SURVEY.md §2.1 S5/S7/S9).
  *
  * The reference creates B-tree indexes on GAME_ID/SEASON/SEASON_TYPE; the
  * warehouse equivalent is `partitionBy(SEASON, SEASON_TYPE)` on write —
  * partition pruning turns the reference's indexed point queries into
  * directory pruning, and per-season directories bound task input size at
  * any corpus scale. GAME_ID stays unpartitioned (1.2k+ games/season would
  * explode the file count); per-game access rides the SEASON prune + row
  * group filter.
  */
object Warehouse {

  val PartitionCols: Seq[String] = Seq("SEASON", "SEASON_TYPE")

  def writeTable(df: DataFrame, dir: String, mode: SaveMode = SaveMode.Append): Unit =
    df.write.mode(mode).partitionBy(PartitionCols: _*).parquet(dir)

  def readTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** S9 CSV sink for golden-file parity (reference: test.py:15). */
  def writeCsv(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(dir)

  /** Replace the whole directory-table `dir` with `df` via
    * write-audit-publish: stage to a hidden sibling directory, then swap by
    * rename. The staged write may freely READ the current `dir` (an upsert
    * merge does) — the target is only touched after the stage commits, so
    * there is never a self-overwrite read and a failed run leaves the
    * published table intact. The swap itself renames the old table ASIDE
    * (never deletes it first), so a crash mid-publish strands at most a
    * hidden `.old` sibling, not the table: `recoverDir` (called on entry)
    * rolls an interrupted swap forward or back on the next run. Renames are
    * per-directory metadata ops, so publish is O(1) regardless of size. */
  def replaceDir(df: DataFrame, dir: String): Unit =
    replaceDirWith(df.sparkSession, dir)(staging =>
      df.write.mode(SaveMode.Overwrite).parquet(staging))

  /** [[replaceDir]]'s swap protocol with a caller-supplied staged write —
    * the crash-safe publish for ANY format (a JSONL export, a CSV drop):
    * `write` receives the hidden staging path, and the swap only runs if
    * it returns, so readers never see a partial or absent target. */
  def replaceDirWith(spark: SparkSession, dir: String)(
      write: String => Unit): Unit = {
    stageDirWith(spark, dir)(write)
    publishStaged(spark, dir)
  }

  /** The staging half of [[replaceDirWith]], without the swap: heal any
    * interrupted swap, clear stale staging, run `write` against the hidden
    * staging path — and leave the live `dir` untouched. [[publishStaged]]
    * performs the swap later. The two-phase form exists for an artifact
    * whose EVIDENCE must be computed early but whose publish must follow
    * another table's swap: CorpusMain's jsonl quarantine is staged before
    * the pipeline runs (one pass over the dump, while the input still
    * exists exactly as read) but published only after the new corpus is
    * live, so a mid-pipeline crash never leaves the still-live OLD corpus
    * described by the NEW run's quarantine. Residual window: between the
    * target table's swap and the staged artifact's publish there is a
    * moment where the NEW table is live while the OLD run's staged-class
    * artifact still is — callers keep it minimal by publishing the staged
    * artifact FIRST in their post-swap block, and a rerun heals it; a
    * single atomic multi-directory swap would need a filesystem-level
    * transaction no object store offers. */
  def stageDirWith(spark: SparkSession, dir: String)(
      write: String => Unit): Unit = {
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverDir(fs, target)
    val staging = stagingFor(target)
    fs.delete(staging, true)
    write(staging.toString)
  }

  /** Swap a [[stageDirWith]]-staged directory live. Refuses when nothing
    * is staged — publishing "whatever happens to be there" would turn a
    * forgotten staging step into a silently missing table. */
  def publishStaged(spark: SparkSession, dir: String): Unit = {
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = stagingFor(target)
    require(fs.exists(staging),
      s"no staged data for $dir — run stageDirWith before publishStaged")
    swap(fs, staging, target)
    refreshPath(spark, dir)
  }

  /** Invalidate and re-cache any CACHED Datasets over `dir` after a
    * FILESYSTEM-level publish (`Catalog.refreshByPath`). DataFrameWriter
    * refreshes only the path IT wrote — for every swap protocol here
    * that is the hidden STAGING sibling, never the live table — so a
    * Dataset a long-lived session has `.cache()`d over the table would
    * keep serving the RETIRED snapshot's rows across publishes for the
    * rest of the session: silently stale data, not even a crash
    * (WarehouseSpec's coherence test pins both sides — it fails with
    * this line removed). Scope is honest: UNCACHED readers were always
    * safe — a fresh `spark.read.parquet` lists fresh, and a stale
    * HANDLE (a DataFrame created before the publish) snapshots its
    * listing by Spark's documented reader semantics and must simply be
    * re-created after a publish (PipelineVolumeSpec's reader-contract
    * note, found in the round-17 full-DAG rehearsal). Cache
    * invalidation only — no filesystem I/O. */
  private def refreshPath(spark: SparkSession, dir: String): Unit =
    spark.catalog.refreshByPath(dir)

  /** [[refreshPath]] for a `finally` block: a refresh failure must never
    * REPLACE an exception already propagating out of the guarded block —
    * Scala `finally` semantics would, and compact's "do not run recover()
    * until it settles" IOException matters strictly more than a catalog
    * hiccup (the r18 advisory). With a `primary` in flight the refresh
    * failure rides along as a suppressed exception on it; with none it
    * propagates itself, because the caller must learn that cached
    * readers may still serve the retired snapshot. */
  private[sources] def refreshPathSuppressing(spark: SparkSession,
      dir: String, primary: Throwable): Unit =
    try refreshPath(spark, dir)
    catch {
      case scala.util.control.NonFatal(rf) if primary != null =>
        primary.addSuppressed(rf)
    }

  /** Publish `staging` as `target` without a window in which neither
    * exists: old target → hidden `.old` sibling, staging → target, then
    * drop the `.old`. On a failed final rename the old table is restored. */
  private def swap(fs: org.apache.hadoop.fs.FileSystem, staging: Path, target: Path): Unit = {
    val old = oldFor(target)
    fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"failed to retire $target -> $old")
    if (!fs.rename(staging, target)) {
      if (fs.exists(old)) fs.rename(old, target) // roll back
      throw new java.io.IOException(s"failed to publish $staging -> $target")
    }
    fs.delete(old, true)
  }

  /** Heal an interrupted swap: if a crash left the `.old` sibling holding
    * the table (target missing), rename it back; otherwise drop leftovers.
    * Returns whether anything was healed (the caller refreshes cached
    * listings only when the live tree actually changed). */
  private def recoverDir(fs: org.apache.hadoop.fs.FileSystem, target: Path): Boolean = {
    val old = oldFor(target)
    if (fs.exists(old)) {
      if (!fs.exists(target)) fs.rename(old, target)
      else fs.delete(old, true)
      true
    } else false
  }

  /** Heal ALL interrupted swaps under table `dir` — the root and every
    * partition directory. A crash between retire and publish leaves data
    * only in a dot-hidden `.name.old` sibling, INVISIBLE to parquet
    * readers: any read-modify-write that runs before recovery would merge
    * against a table silently missing that partition and then permanently
    * overwrite it. Therefore this must run BEFORE the target is read, not
    * merely before it is written — Publish.idempotent and the entry points
    * call it first thing; it is idempotent and costs one listing walk. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var healed = recoverDir(fs, target)
    def walk(p: Path): Unit =
      if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory) {
            if (n.startsWith(".") && n.endsWith(".old")) {
              val orig = new Path(p, n.drop(1).dropRight(4))
              if (!fs.exists(orig)) fs.rename(st.getPath, orig)
              else fs.delete(st.getPath, true)
              healed = true
            } else if (n.startsWith(".del-")) {
              // orphan deleteWhere staging: always disposable — the swap
              // that would consume it never ran (it deletes its staging)
              fs.delete(st.getPath, true)
            } else if (!n.startsWith(".") && !n.startsWith("_")) walk(st.getPath)
          } else if (n.startsWith(".") && n.endsWith(".old")) {
            // deleteWhere's FILE-level rename-aside: same heal rule as the
            // directory swap — target missing -> roll back, else drop
            val orig = new Path(p, n.drop(1).dropRight(4))
            if (!fs.exists(orig)) fs.rename(st.getPath, orig)
            else fs.delete(st.getPath, false)
            healed = true
          }
        }
    walk(target)
    // a heal changed the live tree behind any cached listing; a clean
    // pass (the overwhelmingly common case — recover runs before every
    // read) must NOT invalidate, or the cache would never help
    if (healed) refreshPath(spark, dir)
  }

  /** Dynamic partition overwrite via write-audit-publish: stage `df`
    * partitioned, then swap exactly the partition directories present in
    * the stage — partitions absent from `df` are untouched. Same guarantees
    * as replaceDir (stage may read the target; publish is one rename per
    * affected partition). This is the idempotent write a non-delta pipeline
    * rerun needs: recomputing a season replaces that season's partitions
    * instead of appending duplicates.
    *
    * Returns the number of partition leaves published. Zero means the
    * stage was EMPTY and the target was not touched at all — correct for
    * an incremental overwrite, but a caller for whom an empty result is a
    * bug (a corpus pipeline whose filters ate everything) must check the
    * count, because no marker of the empty run lands on disk. */
  def overwritePartitions(df: DataFrame, dir: String,
      partitionCols: Seq[String] = PartitionCols): Int = {
    val target = new Path(dir)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    // heal interrupted swaps FIRST: `df` may read the target (a merge
    // does), and that read must see partitions stranded in .old siblings
    recover(df.sparkSession, dir)
    val staging = stagingFor(target)
    fs.delete(staging, true)
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(staging.toString)
    def leaves(p: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st => leaves(st.getPath, depth - 1))
    // compare decoded URI paths: listStatus returns scheme-qualified Paths
    // while `staging` may be scheme-less, so raw toString prefixes differ
    val stagingUriPath = fs.makeQualified(staging).toUri.getPath
    val staged = leaves(staging, partitionCols.length)
    staged.foreach { leaf =>
      val rel = leaf.toUri.getPath.stripPrefix(stagingUriPath).stripPrefix("/")
      require(rel.nonEmpty && !rel.startsWith("/"), s"bad partition leaf $leaf")
      val dst = new Path(target, rel)
      fs.mkdirs(dst.getParent)
      recoverDir(fs, dst)
      swap(fs, leaf, dst) // per-partition rename-aside: no delete-then-rename window
    }
    fs.delete(staging, true)
    // the swaps happened behind DataFrameWriter's back (it refreshed the
    // staging path it wrote, not the live leaves) — see refreshPath
    if (staged.nonEmpty) refreshPath(df.sparkSession, dir)
    staged.length
  }

  /** Remove a published artifact AND the swap protocol's hidden siblings
    * (`.name.old`, `.name.staging`): deleting only the visible directory
    * leaves a crashed swap's `.old` behind, which a later [[recover]]
    * walk would faithfully resurrect as live data. */
  def retireDir(spark: SparkSession, dir: String): Unit = {
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(oldFor(target), true)
    fs.delete(stagingFor(target), true)
    fs.delete(target, true)
    refreshPath(spark, dir)
  }

  private def stagingFor(target: Path): Path =
    new Path(target.getParent, s".${target.getName}.staging")

  /** Hidden (dot-prefixed, so invisible to parquet readers) sibling holding
    * the retired version of `target` during a swap. */
  private def oldFor(target: Path): Path =
    new Path(target.getParent, s".${target.getName}.old")

  /** Clustered (sorted) layout: range-partition `df` into `numFiles`
    * disjoint key ranges on `clusterCols` and sort rows within each — the
    * layout transform behind data-skipping scans. Parquet keeps min/max
    * stats per row group; with disjoint sorted ranges a point or range
    * predicate matches a handful of row groups and the reader skips the
    * rest of the table without touching it (LayoutSpec measures the effect
    * on records actually read). This is the B-tree-index analog for
    * immutable columnar storage — at 100 TB it's the difference between a
    * full-table scan and reading one file — and it COMPOSES with the
    * write-audit-publish sinks: `replaceDir(clustered(df, keys, n), dir)`
    * publishes a sorted table crash-safely, because clustering is a plan
    * property of the frame, not of the writer.
    *
    * Returns the re-laid-out frame; [[writeClustered]] is the write-through
    * convenience. `numFiles` is a layout decision (total bytes / desired
    * file size); range boundaries come from Spark's reservoir sample of the
    * keys, so skew in `clusterCols` yields near-equal file sizes anyway. */
  def clustered(df: DataFrame, clusterCols: Seq[String], numFiles: Int): DataFrame = {
    require(clusterCols.nonEmpty, "clustered layout needs at least one key")
    df.repartitionByRange(numFiles, clusterCols.map(df.col): _*)
      .sortWithinPartitions(clusterCols.map(df.col): _*)
  }

  def writeClustered(df: DataFrame, dir: String, clusterCols: Seq[String],
      numFiles: Int): Unit =
    clustered(df, clusterCols, numFiles)
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** Z-order layout: cluster on an interleaved-bit curve over SEVERAL
    * numeric keys, so selective predicates on ANY of them skip files/row
    * groups — the multi-column generalization of [[clustered]], which
    * serves only its leading key. Each key is scaled to `bits` bits
    * against its observed min/max (one scalar stats pass — the same
    * pre-pass OPTIMIZE-style layout jobs run), the bits are interleaved
    * (bit k of key j lands at position k*n + j), and rows are
    * range-partitioned + sorted on the resulting z-value, giving each
    * file a near-square tile of key space: a point/range filter on one
    * key reads ~numFiles^((n-1)/n) tiles instead of every file, at the
    * cost that no single key gets [[clustered]]'s perfect 1-tile locality
    * — the standard trade, measured in LayoutSpec both ways.
    *
    * Nulls bin to 0 (they cluster with the minimum — min/max ignore
    * nulls, and a null key can't be range-pruned anyway); a constant key
    * contributes nothing (min == max -> bin 0). `bits` * n must fit a
    * long's 63 non-sign bits (bit 63 would flip z-value ordering for
    * rows landing in the top half), so 16 bits/key covers up to 3 keys;
    * the default `bits = None` auto-sizes to min(16, 63/n) — 4 keys get
    * 15 bits each — while ANY explicit width outside [1, 63/n] fails
    * loudly (an Option, not an in-band 0 sentinel, so a passed 0 is
    * rejected rather than silently auto-sized).
    * File boundaries come from the range exchange's reservoir sample, so tile
    * alignment follows
    * `spark.sql.execution.rangeExchange.sampleSizePerPartition` — a layout
    * job should raise it (the default 100 leaves files straddling tiles,
    * which costs pruning, never correctness). */
  def zordered(df: DataFrame, clusterCols: Seq[String], numFiles: Int,
      bits: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val n = clusterCols.length
    require(n >= 2, "zorder needs >= 2 keys; use clustered() for one")
    val b = bits.getOrElse(math.min(16, 63 / n))
    require(b >= 1 && b * n <= 63, s"bits*keys must fit a long, got $b*$n")
    clusterCols.foreach { c =>
      require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"zorder key $c must be numeric, got ${df.schema(c).dataType}")
    }
    require(!df.columns.contains("__z"),
      "the frame already has a '__z' column — rename it before zordering")
    // one scalar stats job: min/max per key (skew-robust enough for a
    // layout decision; a skewed key still bins monotonically)
    val stats = df.agg(
      expr(s"min(${clusterCols.head})"),
      (clusterCols.tail.map(c => expr(s"min($c)")) ++
        clusterCols.map(c => expr(s"max($c)"))): _*).head()
    val maxBin = (1L << b) - 1
    val binCols = clusterCols.zipWithIndex.map { case (c, j) =>
      val (lo, hi) = (Option(stats.get(j)).map(_.toString.toDouble),
        Option(stats.get(n + j)).map(_.toString.toDouble))
      (lo, hi) match {
        case (Some(l), Some(h)) if h > l =>
          // scale to [0, maxBin]; nulls -> 0
          coalesce(floor((col(c).cast("double") - lit(l)) / lit(h - l) * maxBin)
            .cast("long"), lit(0L))
        case _ => lit(0L) // constant or all-null key: contributes nothing
      }
    }
    val z = (0 until b).flatMap { k =>
      binCols.zipWithIndex.map { case (bin, j) =>
        // bit k of key j -> position k*n + j
        shiftleft(shiftright(bin, k).bitwiseAND(1L), k * n + j)
      }
    }.reduce(_ + _)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  def writeZordered(df: DataFrame, dir: String, clusterCols: Seq[String],
      numFiles: Int, bits: Option[Int] = None): Unit =
    zordered(df, clusterCols, numFiles, bits)
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** Compact a directory table's small files in place, crash-safely:
    * every leaf directory (the table itself, or each `k=v` partition leaf)
    * whose file count exceeds ceil(bytes / targetFileBytes) is rewritten to
    * that many files and swapped in via the same rename-aside publish as
    * [[replaceDir]] — a crash mid-compaction strands at most a hidden
    * sibling that the next run (or any entry point calling [[recover]])
    * heals, and readers never see a partial leaf.
    *
    * Small files are the silent scale killer of long-lived ingest tables:
    * a per-game/per-batch append pattern yields thousands of KB-sized
    * files per partition, and at 100 TB the scan becomes metadata-bound
    * (footer reads, task scheduling) rather than data-bound. Compaction
    * touches only leaves that are actually fragmented and runs the
    * per-leaf rewrite jobs CONCURRENTLY (`maxConcurrentLeaves` submitter
    * threads; Spark schedules concurrent jobs natively), because a leaf's
    * rewrite is small by construction — a few hundred MB — and running
    * 100k of them one at a time from the driver would make compaction
    * wall-clock = leaves x per-job latency. Every leaf still swaps in
    * crash-safely on its own; a failed leaf does not stop the others, and
    * the first failure is rethrown after all submitted leaves settle (the
    * healed/unhealed split is then per-leaf on disk, same as a crash).
    * Data, schema, and partition layout are unchanged (LayoutSpec pins all
    * three). Returns the number of leaves rewritten.
    *
    * `clusterCols`: a plain rewrite concatenates files (coalesce), which
    * DESTROYS a [[clustered]] table's disjoint key ranges — a compacted
    * clustered table would silently stop pruning. Passing the table's
    * cluster keys re-clusters each rewritten leaf instead, so compaction
    * and data-skipping layout compose. */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L << 20,
      clusterCols: Seq[String] = Nil,
      maxConcurrentLeaves: Int = 8): Int = {
    require(maxConcurrentLeaves >= 1, s"need >= 1 submitter, got $maxConcurrentLeaves")
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, dir)
    def visible(n: String) = !n.startsWith(".") && !n.startsWith("_")
    // metadata pass first (serial — pure listing): find fragmented leaves
    def fragmented(p: Path): Seq[(Path, Int)] = {
      val kids = fs.listStatus(p).filter(st => visible(st.getPath.getName))
      val parts = kids.filter(st => st.isDirectory && st.getPath.getName.contains("="))
      if (parts.nonEmpty) parts.toSeq.flatMap(st => fragmented(st.getPath))
      else {
        val files = kids.filter(_.isFile)
        val want = math.max(1L,
          (files.map(_.getLen).sum + targetFileBytes - 1) / targetFileBytes).toInt
        if (files.length > want) Seq(p -> want) else Nil
      }
    }
    def rewrite(p: Path, want: Int): Unit = {
      // the staged read sees the CURRENT leaf (replaceDir's contract),
      // so this is read-compact-swap with no copy of the table held
      val leaf = spark.read.parquet(p.toString)
      val rewritten =
        if (clusterCols.nonEmpty) clustered(leaf, clusterCols, want)
        else leaf.coalesce(want)
      replaceDir(rewritten, p.toString)
    }
    val frag = fragmented(target)
    if (frag.isEmpty) 0
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrentLeaves, frag.size))
      var primary: Throwable = null
      try {
        val done = frag.map { case (p, w) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            // attribute each leaf's jobs for listeners / the Spark UI
            def call(): Unit = {
              spark.sparkContext.setLocalProperty("graft.compact.leaf", p.toString)
              try rewrite(p, w)
              finally spark.sparkContext.setLocalProperty("graft.compact.leaf", null)
            }
          })
        }
        // drain ALL futures before rethrowing: a failed leaf must not
        // abandon in-flight swaps half-submitted. An interrupt while
        // blocked is treated as that future's failure and the drain
        // CONTINUES (catching it clears the flag, so later gets still
        // block normally); before rethrowing a cancellation the pool is
        // stopped HARD and awaited — returning while an interrupted
        // leaf's swap is still mid-flight would let the caller race it
        // (a recover() or spark.stop() against a half-renamed leaf).
        val failures = done.flatMap(f =>
          try { f.get(); None }
          catch {
            case e: java.util.concurrent.ExecutionException => Some(e.getCause)
            case e: InterruptedException => Some(e)
          })
        failures.headOption.foreach { first =>
          if (failures.exists(_.isInstanceOf[InterruptedException])) {
            pool.shutdownNow()
            // a second interrupt mid-wait must not skip the wait, and a
            // worker wedged in non-interruptible I/O must not let us
            // return with its swap still in flight — keep waiting to the
            // deadline through repeated interrupts, then fail LOUDLY
            // rather than hand the caller a silent race
            val deadline = System.nanoTime() + 10L * 60 * 1000 * 1000 * 1000
            var terminated = false
            while (!terminated && System.nanoTime() < deadline)
              try terminated = pool.awaitTermination(
                math.max(1, (deadline - System.nanoTime()) / 1000000),
                java.util.concurrent.TimeUnit.MILLISECONDS)
              catch { case _: InterruptedException => () }
            Thread.currentThread().interrupt()
            if (!terminated)
              throw new java.io.IOException(
                "compact was cancelled but a leaf rewrite did not stop " +
                  "within 10 minutes — its swap may still be in flight; " +
                  "do not run recover() on this table until it settles",
                first)
          }
          throw first
        }
        frag.size
      } catch { case t: Throwable => primary = t; throw t }
      finally {
        pool.shutdown()
        // in the finally, NOT after the rethrow: when some leaf swaps
        // landed and another failed, the exception must propagate with
        // the cache already invalidated — a caller that catches and
        // continues in-session would otherwise serve retired-snapshot
        // rows from cached Datasets over a table that WAS partially
        // rewritten on disk (the r17 publish-coherence rule, extended
        // to the partial-failure path per the r17 advisory; frag is
        // nonEmpty on this branch, so this never fires on a no-op).
        // Suppressing: a refresh failure must not mask `primary` — in
        // particular the cancellation path's "swap may still be in
        // flight" IOException (the r18 advisory)
        refreshPathSuppressing(spark, dir, primary)
      }
    }
  }

  /** S8 database bootstrap (reference: database/db_init.py:7-20,
    * create_database_if_not_exists): the catalog analog — idempotent
    * CREATE DATABASE, optionally pinned to a warehouse root directory so
    * catalog tables (writeBucketed) land under a governed location.
    * Returns true iff this call created the database. */
  def createDatabase(spark: SparkSession, name: String,
      location: Option[String] = None): Boolean = {
    val existed = spark.catalog.databaseExists(name)
    if (!existed) {
      val loc = location.map(l => s" LOCATION '$l'").getOrElse("")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name`$loc")
    }
    !existed
  }

  /** Bucketed catalog table: pre-shuffled layout on the join key, so two
    * tables bucketed the same way join with NO exchange — the co-located
    * join a 100 TB star schema needs for its fact-fact joins (pbp ⋈
    * rotations ⋈ lineups on GAME_ID). Bucket count is a layout contract:
    * both sides must match.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int = 32): Unit =
    writeBucketedBy(df, table, Seq(bucketCol), numBuckets)

  /** [[writeBucketed]] on a COMPOSITE key — the layout for an index whose
    * probe joins on several columns at once (the ingest gate's band
    * index, keyed (b, v)): bucketed and sorted on the full key, a probe
    * join against it plans with no exchange on the index side, which is
    * what makes an always-on gate's per-batch cost independent of index
    * size. */
  def writeBucketedBy(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int = 32): Unit = {
    require(bucketCols.nonEmpty, "need at least one bucket column")
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Append to an existing [[writeBucketedBy]] table, preserving its
    * layout contract: each append job writes its own set of bucket files
    * (a bucket may then hold several files — the hash distribution still
    * holds, so bucketed joins stay exchange-free; only the per-file sort
    * guarantee weakens, which costs at most a local sort in the consumer,
    * never a shuffle). The bucketing spec must match the table's — Spark
    * fails loudly on a mismatch, which is the point: a silent re-bucket
    * would corrupt the co-location every reader relies on. This is the
    * write behind incremental gate-state compaction
    * ([[graft.corpus.GateState.compactState]]). */
  def appendBucketedBy(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int = 32): Unit = {
    require(bucketCols.nonEmpty, "need at least one bucket column")
    df.write.mode(SaveMode.Append)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Targeted delete — the right-to-be-forgotten / retention-purge
    * primitive: remove every row matching `predicate` from a parquet
    * directory table by rewriting ONLY the files that actually contain a
    * match. At 100 TB a GDPR erasure request touches one user's rows; a
    * whole-table rewrite for that is a day of cluster time, while this is
    * one pruned scan (partition filters prune whole directories,
    * row-group stats skip clean files) plus a rewrite of the handful of
    * hit files — on a [[clustered]]/bucketed-by-user layout, O(1) files
    * per user.
    *
    * Scope caveat — this deletes from ONE directory table; it does not
    * know about derived stores. In particular: (a) the streaming ingest
    * gate's at-rest state holds each corpus document in reconstructible
    * form (raw n-gram text in the shingles table, signatures in the
    * band/vector index tables, the embedding in the vectors table, full
    * text in published batch dirs) — compose with
    * [[graft.corpus.GateState.purgeDocs]] over those stores; (b) the
    * batch pipeline's side outputs carry the document's TEXT again
    * (`examples/` chunk_text, `review_sample/` full rows, `span_cut/`
    * cut-passage text, the `corpus_jsonl/` mirror) and its ID across
    * every audit — compose with
    * [[graft.corpus.CorpusMain.purgeCurated]] over the curation root.
    * An erasure against the corpus is complete only with both.
    *
    * Crash safety is the directory swap's protocol at FILE granularity:
    * the filtered replacement is staged to a hidden `.del-<name>` sibling
    * dir, the original renames aside to `.<name>.old`, the staged part
    * renames in, then the aside and staging drop. [[recover]] heals both
    * new cases (a stranded `.old` FILE rolls back; orphan `.del-*`
    * staging drops), so a crash at any point leaves a table a rerun
    * fixes. A file whose every row matches simply disappears. Hit files
    * rewrite CONCURRENTLY under a bounded pool ([[compact]]'s shape).
    *
    * The predicate may reference partition columns (they resolve via
    * basePath); data files never store them, so the rewrite drops them
    * before writing. Same single-maintainer assumption as compact: one
    * maintenance writer at a time. Returns (filesRewritten, rowsDeleted).
    */
  /** Does `dir` hold any data file a parquet/json reader would SEE? A
    * file counts only if neither it nor any path component strictly
    * below `dir` is hidden (leading `.` or `_`) — a part file nested in
    * a crashed [[deleteWhere]]'s `.del-` staging, a killed write's
    * `_temporary` tree, or a swap's `.{name}.old` aside is invisible to
    * readers and must not count. ONE definition of that visibility rule
    * (the r13 advisory: [[deleteWhere]]'s empty-target guard and
    * CorpusMain's purge-time reads each carried a copy that could
    * drift), used by every "is this dir a valid zero-row source or a
    * schema-inference crash" decision. `dir` must exist — callers gate
    * on `fs.exists` first, because a missing dir is a DIFFERENT state
    * (nothing was ever published, or everything was retired) that each
    * caller handles per its own protocol. */
  def dirHasVisibleData(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Boolean = {
    val rootPath = fs.makeQualified(dir).toUri.getPath
    val it = fs.listFiles(dir, true)
    var found = false
    while (!found && it.hasNext)
      found = allSegmentsVisible(rootPath, it.next().getPath)
    found
  }

  /** The parquet table at `dir`, or None when it is absent: the path does
    * not exist or holds no visible data file ([[dirHasVisibleData]]).
    * Every other read error — a corrupt file, a permission error —
    * propagates; it is not an absent table. */
  def readIfPresent(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && dirHasVisibleData(fs, p)) Some(spark.read.parquet(dir))
    else None
  }

  /** A file is VISIBLE data when every path segment below the table root
    * is free of the '.'/'_' prefixes parquet readers skip (swap siblings,
    * staging, _SUCCESS markers). */
  private def allSegmentsVisible(rootPath: String, f: Path): Boolean = {
    var cur = f
    var ok = true
    while (ok && cur != null && cur.toUri.getPath != rootPath) {
      val n = cur.getName
      ok = !n.startsWith(".") && !n.startsWith("_")
      cur = cur.getParent
    }
    ok
  }

  /** All visible data files under `dir` — [[dirHasVisibleData]]'s rule,
    * collected. One recursive listing, driver-side. Shared with
    * [[Jsonl.read]], whose explicit-file-list scan uses the same
    * visibility rule for the same reason (real `input_file_name()`
    * provenance under same-session cache substitution). A bare FILE
    * path also works: the listing returns the file itself, trivially
    * visible (no segment below the root). */
  private[sources] def visibleDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[Path] = {
    val rootPath = fs.makeQualified(dir).toUri.getPath
    val it = fs.listFiles(dir, true)
    val out = Seq.newBuilder[Path]
    while (it.hasNext) {
      val p = it.next().getPath
      if (allSegmentsVisible(rootPath, p)) out += p
    }
    out.result()
  }

  def deleteWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      maxConcurrentFiles: Int = 8): (Int, Long) = {
    import org.apache.spark.sql.functions._
    require(maxConcurrentFiles >= 1, s"need >= 1 worker, got $maxConcurrentFiles")
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal FIRST, then gate: a crash between swap's retire and publish
    // leaves the table solely in the hidden `.dir.old` sibling with the
    // target absent — an exists-gate that ran BEFORE the heal would
    // report (0, 0) "nothing to delete" while the next recover() (any
    // later entry point) resurrects the rows the caller believes erased
    // (the r15 advisory; GateState routes purgeDocs through here).
    // recover is safe on a missing dir: recoverDir restores the target
    // from the .old sibling when absent, and walk() is exists-guarded.
    recover(spark, dir)
    // a dir that was never published (or fully retired — recover found
    // no .old to restore) holds nothing to delete: a valid no-op for an
    // erasure, not an error, and the listing below requires it (a
    // recursive listFiles throws a raw FileNotFoundException on a
    // missing dir)
    if (!fs.exists(target)) return (0, 0L)
    // one recursive listing serves BOTH decisions below: the "previous
    // delete emptied every data file" no-op gate (a valid RERUN of the
    // same erasure — GateState.purgeDocs idempotence — not a
    // schema-inference crash) and the discovery scan's explicit file
    // list. The scan must see REAL file provenance: a Dataset this
    // session has .cache()d over the dir would substitute the scan with
    // its InMemoryRelation (the cache manager matches any plan over the
    // same root path), where input_file_name() evaluates to "" — no file
    // scan underneath — and the erasure would die on an empty path
    // instead of deleting (found by WarehouseSpec's partial-failure pin).
    // Reading the EXPLICIT file list gives the scan a FileIndex whose
    // roots are the files, which the cache over the dir never matches;
    // basePath keeps directory-encoded partition columns resolvable for
    // the predicate. (Dataset.inputFiles cannot produce this list — it
    // reads the OPTIMIZED plan, which cache substitution has already
    // collapsed to the InMemoryRelation, yielding zero files.)
    val dataFiles = visibleDataFiles(fs, target).map(_.toString)
    if (dataFiles.isEmpty) return (0, 0L)
    val affected = spark.read.option("basePath", dir).parquet(dataFiles: _*)
      .filter(predicate)
      .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (new Path(new java.net.URI(r.getString(0))), r.getLong(1)))
    if (affected.isEmpty) return (0, 0L)
    // partition columns live in directory names, not in the files: the
    // per-file read resolves them via basePath (so the predicate may use
    // them) and the rewrite drops them before writing
    val rootPath = fs.makeQualified(target).toUri.getPath
    def partitionCols(p: Path): Seq[String] = {
      var cols = List.empty[String]
      var cur = p.getParent
      while (cur != null && cur.toUri.getPath != rootPath) {
        val n = cur.getName
        if (n.contains("=")) cols ::= n.takeWhile(_ != '=')
        cur = cur.getParent
      }
      cols
    }
    def rewriteFile(p: Path): Unit = {
      val staging = new Path(p.getParent, s".del-${p.getName}")
      fs.delete(staging, true)
      spark.read.option("basePath", dir).parquet(p.toString)
        .filter(!predicate)
        .drop(partitionCols(p): _*)
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val allParts = fs.listStatus(staging).filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith(".") && !n.startsWith("_")
      })
      require(allParts.length <= 1, s"coalesce(1) wrote ${allParts.length} parts")
      // an all-rows-matched file writes a 0-row part — drop the file
      // entirely rather than publish an empty husk (one footer read of
      // the just-written staged file, negligible next to the rewrite)
      val parts =
        if (allParts.nonEmpty &&
            spark.read.parquet(staging.toString).isEmpty) Array.empty[org.apache.hadoop.fs.FileStatus]
        else allParts
      val old = new Path(p.getParent, s".${p.getName}.old")
      fs.delete(old, false)
      if (!fs.rename(p, old))
        throw new java.io.IOException(s"failed to retire $p -> $old")
      parts.headOption.foreach { part =>
        if (!fs.rename(part.getPath, p)) {
          fs.rename(old, p) // roll back
          throw new java.io.IOException(s"failed to publish ${part.getPath} -> $p")
        }
      }
      fs.delete(old, false)
      fs.delete(staging, true)
      ()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrentFiles, affected.length))
    var primary: Throwable = null
    try {
      val done = affected.map { case (p, _) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = rewriteFile(p)
        })
      }
      // drain before rethrowing — a failed file must not abandon others
      // mid-swap (compact's rule); per-file crash state heals via recover
      val failures = done.flatMap(f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) })
      failures.headOption.foreach(throw _)
    } catch { case t: Throwable => primary = t; throw t }
    finally {
      pool.shutdown()
      // in the finally, NOT after the rethrow: an erasure that partially
      // applied (some file swaps landed, one failed) must propagate its
      // exception with the cache already invalidated, or a caller that
      // catches and continues in-session serves rows the partial erasure
      // already removed from disk — for a GDPR delete that is the worst
      // possible staleness (the r17 publish-coherence rule, extended to
      // the partial-failure path per the r17 advisory; affected is
      // nonEmpty here — the no-op cases returned above). Suppressing: a
      // refresh failure must not mask the partial-erasure exception
      // itself (the r18 advisory)
      refreshPathSuppressing(spark, dir, primary)
    }
    (affected.length, affected.map(_._2).sum)
  }

  /** Keyed diff of two snapshot versions of a table — the CDC/data-
    * versioning primitive: which rows were `added`, `removed`, or
    * `changed` between a published corpus (or any warehouse table) and
    * its re-curation. The answer an operator needs before promoting a
    * new snapshot ("this rerun would drop 40% of the corpus" is a bug
    * report, not a publish), and the delta a downstream incremental
    * consumer feeds on instead of re-reading the full table.
    *
    * Non-key columns are compared via one md5 over their JSON rendering
    * (per-row, codegen'd, computed map-side BEFORE the join — only
    * key + 32-hex-char rows shuffle, never the payload: diffing two wide
    * snapshots moves O(rows x 50B), not O(data)). The join is a keyed
    * full-outer — on bucketed snapshots ([[writeBucketedBy]]) it plans
    * exchange-free. Caller contract: `keys` is unique per snapshot (the
    * same id invariant the upsert path asserts); both frames must carry
    * identical column sets.
    *
    * Returns `keys* , status` rows; `unchanged` rows — typically ~all of
    * the table — are dropped unless `includeUnchanged` (the delta is the
    * product; a full-table status listing is a debugging view). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
      includeUnchanged: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "need at least one key column")
    require(oldDf.columns.toSet == newDf.columns.toSet,
      s"snapshot schemas must match: old=${oldDf.columns.toSeq} " +
        s"new=${newDf.columns.toSeq}")
    require(keys.forall(oldDf.columns.contains),
      s"keys $keys must be columns of the snapshots")
    val nonKey = oldDf.columns.toSeq.filterNot(keys.contains)
    def hashed(df: DataFrame, h: String) = {
      // fixed old-side column ORDER on both sides: to_json renders fields
      // in struct order, so a reordered-but-equal snapshot must not diff
      val payload =
        if (nonKey.isEmpty) lit("") // key-only table: presence IS the row
        else md5(to_json(struct(nonKey.map(col): _*)))
      df.select(keys.map(col) :+ payload.as(h): _*)
    }
    val joined = hashed(oldDf, "old_hash")
      .join(hashed(newDf, "new_hash"), keys, "full_outer")
    val status = when(col("old_hash").isNull, "added")
      .when(col("new_hash").isNull, "removed")
      .when(col("old_hash") =!= col("new_hash"), "changed")
      .otherwise("unchanged")
    val out = joined.select(keys.map(col) :+ status.as("status"): _*)
    if (includeUnchanged) out else out.filter(col("status") =!= "unchanged")
  }
}
