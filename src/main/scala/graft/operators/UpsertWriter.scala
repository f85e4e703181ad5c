package graft.operators

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Idempotent keyed upsert into a parquet table directory — the engine-side
  * equivalent of the reference's `COPY → temp table → INSERT … ON CONFLICT
  * DO UPDATE` protocol (§2.2 K4–K7, `src/etl/load_postgres.py:63-103`).
  *
  * Semantics: batch re-ingest of overlapping windows is idempotent,
  * last-write-wins per primary key; re-running the same batch is a no-op.
  * Implementation: read the live generation of every bucket the batch
  * touches ∪ updates → rank-1 per key (SetOps.upsert) → write a fresh
  * generation → one atomic `CURRENT` flip. Readers always see a complete,
  * consistent snapshot.
  *
  * The bucket count is a TABLE property. Bucket = `pmod(xxhash64(keys…),
  * numBuckets)`, computed from the key columns on demand and never stored,
  * so files stay pure payload. An upsert rewrites only the buckets whose
  * keys appear in the batch; untouched buckets keep their generation dirs
  * byte-identical. Layout on disk:
  *  - 1 bucket (flat): `CURRENT` holds one generation name and the
  *    `gen-<ts>-<rand>/` dirs sit at the table root. No `META`.
  *  - N > 1 buckets: `tableDir/b=<bucket>/gen-…/` per bucket, and
  *    `CURRENT` maps every bucket that ever received a row to its live
  *    generation (`<bucket> <gen>` lines) — one flip publishes all touched
  *    buckets at once, where per-bucket pointer files would let a reader
  *    see half an upsert. `META` pins the bucket count, the key set and
  *    the key dtypes: rows hashed under a different N would land keys in
  *    the wrong bucket and silently duplicate them across buckets, and
  *    xxhash64 is type-dependent.
  * A table without `META` has 1 bucket; a call whose `numBuckets` differs
  * from the table's fails before it writes anything.
  *
  * WHICH COUNT (measured, graft.UpsertBench; RUNLOG_r12 §5): pruning is
  * governed by the batch's DISTINCT KEY COUNT k against N — E[untouched
  * buckets] = N·(1−1/N)^k, so it engages only when k ≲ N/3. A trickle batch
  * (one order's lines, one micro-batch of bars) touches 1-2 of 32 buckets
  * and ran 3× faster than 1 bucket on a 4.5M-row table, a gap that grows
  * linearly in table size; a bulk 30k-key re-ingest window hash-touches
  * every bucket, pays the staging/bookkeeping for zero pruning, and 1
  * bucket wins that regime (1.6× at sf1). Bulk reloads → 1; streaming and
  * trickle sinks → N with k ≲ N/3.
  */
object UpsertWriter {

  /** One monitor per canonical table path: same-JVM writers serialize here
    * (an OS FileLock alone cannot — overlapping locks within one JVM throw
    * OverlappingFileLockException rather than block). Keyed on the REAL
    * path (symlinks resolved) so two writers reaching one table via
    * aliased paths collapse to one monitor — a lexical normalize would
    * hand them distinct monitors and the second in-JVM `FileChannel.lock`
    * on the same underlying LOCK file would throw instead of block.
    * Falls back to the lexical form only when the directory does not
    * exist yet (first writer creates it before locking). */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def monitorFor(dir: Path): Object = {
    val canonical =
      try dir.toRealPath().toString
      catch { case _: java.io.IOException => dir.toAbsolutePath.normalize.toString }
    monitors.computeIfAbsent(canonical, _ => new Object)
  }

  /** Serializes the read→merge→write→flip critical section against other
    * writers of the SAME table: JVM monitor for in-process threads, then an
    * OS-level advisory `FileLock` on the table's LOCK file for other
    * processes. FileLock is released by the OS when a holder dies, so a
    * crashed writer cannot wedge the table (no stale-lock sweeper needed).
    * Cross-table writers share nothing and proceed in parallel. */
  private def withWriterLock[A](dir: Path)(body: => A): A =
    monitorFor(dir).synchronized {
      val ch = java.nio.channels.FileChannel.open(dir.resolve("LOCK"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val fl = ch.lock() // blocks until any other process's writer exits
        try body finally fl.release()
      } finally ch.close()
    }

  /** The table's bucket assignment for a row, from its key columns. */
  def bucketExpr(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets.toLong)).cast("int")

  /** The directory holding bucket `b`'s generations: the table root when
    * the table is flat. */
  private def bucketDir(dir: Path, numBuckets: Int, b: Int): Path =
    if (numBuckets == 1) dir else dir.resolve(s"b=$b")

  /** META as key → value (empty when the table has none). */
  private def meta(dir: Path): Map[String, String] = {
    val m = dir.resolve("META")
    if (!Files.exists(m)) Map.empty
    else Files.readString(m).linesIterator.filter(_.contains('=')).map { l =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
    }.toMap
  }

  /** The table's bucket count: its META pin, else 1. */
  private def bucketsIn(meta: Map[String, String]): Int =
    meta.get("numBuckets").map(_.toInt).getOrElse(1)

  /** Bucket → live generation name, from one read of CURRENT. */
  private def currentMap(dir: Path, numBuckets: Int): Map[Int, String] = {
    val ptr = dir.resolve("CURRENT")
    if (!Files.exists(ptr)) Map.empty
    else if (numBuckets == 1) Map(0 -> Files.readString(ptr).trim)
    else Files.readAllLines(ptr).asScala.filter(_.nonEmpty).map { line =>
      val Array(b, g) = line.split(' ')
      b.toInt -> g
    }.toMap
  }

  private def writeCurrent(dir: Path, numBuckets: Int, m: Map[Int, String]): Unit = {
    val tmp = dir.resolve("CURRENT.tmp")
    Files.writeString(tmp,
      if (numBuckets == 1) m(0)
      else m.toSeq.sortBy(_._1).map { case (b, g) => s"$b $g" }.mkString("\n"))
    Files.move(tmp, dir.resolve("CURRENT"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Validates the call against the table's shape before anything is
    * written. An existing table keeps its bucket count; a new one adopts
    * the call's, pinned in META when it is above 1. META also pins the key
    * set and key dtypes. The dtype pin matters because `xxhash64` is
    * TYPE-dependent (Int 42 hashes differently from Long 42): a batch whose
    * key column type drifted from the stored table's would compute
    * `touched` from the raw batch but the bucket from the post-union
    * coerced merge, staging rows under bucket dirs outside `touched` —
    * which the staging cleanup then deletes. Refusing the drifted batch
    * loudly beats that silent loss. Pre-dtype-pin tables (no keyTypes
    * line) are upgraded in place on their first later upsert, adopting the
    * batch's dtypes. */
  private def checkShape(dir: Path, keys: Seq[String], numBuckets: Int,
                         keyTypes: Seq[String]): Unit = {
    val have = meta(dir)
    val isNew = have.isEmpty && !Files.exists(dir.resolve("CURRENT"))
    val tableN = bucketsIn(have)
    require(isNew || tableN == numBuckets,
      s"table at $dir has $tableN bucket(s); refusing an upsert with " +
        s"numBuckets=$numBuckets (a different count would scatter keys)")
    if (numBuckets > 1) {
      val want = s"numBuckets=$numBuckets\nkeys=${keys.mkString(",")}" +
        s"\nkeyTypes=${keyTypes.mkString(",")}"
      if (have.nonEmpty) {
        require(have.get("keys").contains(keys.mkString(",")),
          s"bucketed table at $dir is keyed by [${have.getOrElse("keys", "")}]; " +
            s"refusing upsert with [${keys.mkString(",")}]")
        have.get("keyTypes") match {
          case Some(t) => require(t == keyTypes.mkString(","),
            s"bucketed table at $dir pins key dtypes [$t] but the batch has " +
              s"[${keyTypes.mkString(",")}]: xxhash64 bucketing is type-" +
              "dependent, a drifted batch would stage rows outside the " +
              "touched-bucket set. Cast the batch keys to the table schema.")
          case None => Files.writeString(dir.resolve("META"), want)
        }
      } else Files.writeString(dir.resolve("META"), want)
    }
  }

  /** Reads the current snapshot (empty-safe): the union of every bucket's
    * live generation, resolved from one read of CURRENT. */
  def read(spark: SparkSession, tableDir: String): Option[DataFrame] = {
    val dir = Paths.get(tableDir)
    val n = bucketsIn(meta(dir))
    val live = currentMap(dir, n)
    if (live.isEmpty) None
    else Some(spark.read.parquet(live.toSeq.sortBy(_._1).map { case (b, g) =>
      bucketDir(dir, n, b).resolve(g).toString }: _*))
  }

  /** Upserts `updates` into the table at `tableDir` keyed by `keys`,
    * rewriting only the buckets whose keys appear in `updates`.
    *
    * `numBuckets` must equal the table's bucket count (a new table adopts
    * it). `retainMillis`: superseded generations younger than this survive
    * GC so a reader that resolved CURRENT before several subsequent
    * upserts can finish its scan (with a 1 s streaming trigger, a fixed
    * keep-one policy gave only a ~2 s window). The just-written and
    * just-replaced generations are always kept regardless of age. */
  def upsert(spark: SparkSession, updates: DataFrame, tableDir: String,
             keys: Seq[String], numBuckets: Int = 1,
             retainMillis: Long = 60000L): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    require(!updates.columns.contains("__bucket"),
      "updates may not carry a __bucket column (reserved)")
    val dir = Paths.get(tableDir)
    Files.createDirectories(dir)
    // Above 1 bucket the batch is consumed TWICE (touched-bucket collect,
    // then the merge write) — cache it so a streaming micro-batch's
    // upstream (source parse, watermarked aggregation replay) isn't paid
    // twice per trigger. Only when the CALLER hasn't already cached it
    // (their cache is not ours to drop).
    val weCache = numBuckets > 1 && updates.storageLevel == StorageLevel.NONE
    val batch = if (weCache) updates.persist(StorageLevel.MEMORY_AND_DISK) else updates
    // The whole read→merge→write→flip sequence is one critical section:
    // without it, two interleaved writers both merge against the same base
    // generation and the second pointer flip silently discards the first
    // writer's rows (lost update). Readers need no lock — they resolve
    // CURRENT once and scan immutable generations.
    try withWriterLock(dir) {
      val keyTypes = keys.map { k =>
        require(batch.columns.contains(k), s"updates missing key column $k")
        batch.schema(k).dataType.catalogString
      }
      checkShape(dir, keys, numBuckets, keyTypes)
      // Any .staging-* dir visible while WE hold the exclusive writer lock
      // is the leftover of a writer that died mid-write (the in-process
      // finally always removes its own) — without this sweep a SIGKILLed
      // streaming sink leaks one partial staging dir per crash, forever
      // (generation GC only scans bucket dirs).
      listDir(dir).filter(_.getFileName.toString.startsWith(".staging-"))
        .foreach(deleteRecursively)
      val bkt = bucketExpr(keys, numBuckets)
      // Bounded driver read: ≤ numBuckets distinct ids, never row-scaled.
      val touched =
        if (numBuckets == 1) Seq(0)
        else batch.select(bkt.as("__bucket")).distinct()
          .collect().map(_.getInt(0)).sorted.toSeq
      if (touched.nonEmpty) write(spark, batch, dir, keys, numBuckets, bkt,
        touched, retainMillis)
    } finally if (weCache) batch.unpersist(blocking = false)
  }

  private def write(spark: SparkSession, updates: DataFrame, dir: Path,
                    keys: Seq[String], numBuckets: Int, bkt: Column,
                    touched: Seq[Int], retainMillis: Long): Unit = {
    val cur = currentMap(dir, numBuckets)
    val basePaths = touched.flatMap(b =>
      cur.get(b).map(g => bucketDir(dir, numBuckets, b).resolve(g).toString))
    // Partition pruning by construction: only the touched buckets' live
    // generation files are ever read — untouched buckets cost zero IO.
    val base =
      if (basePaths.isEmpty) updates.limit(0)
      else spark.read.parquet(basePaths: _*)
    val merged = SetOps.upsert(base, updates, keys)
    val now = System.currentTimeMillis()
    val genName = s"gen-$now-${scala.util.Random.nextInt(100000)}"
    if (numBuckets == 1)
      merged.write.mode("overwrite").parquet(dir.resolve(genName).toString)
    else {
      // One write job for all touched buckets: partitionBy splits the
      // staging dir into __bucket=<b> subdirs which then move (same
      // filesystem, cheap rename) into each bucket's generation slot.
      val staging = dir.resolve(s".staging-$genName")
      merged.withColumn("__bucket", bkt)
        .write.partitionBy("__bucket").parquet(staging.toString)
      try {
        touched.foreach { b =>
          val src = staging.resolve(s"__bucket=$b")
          val dst = bucketDir(dir, numBuckets, b).resolve(genName)
          Files.createDirectories(dst.getParent)
          // A touched bucket always has ≥1 update row, so src exists; the
          // guard only covers a staging layout change failing loudly.
          require(Files.exists(src), s"staged bucket $b missing at $src")
          Files.move(src, dst)
        }
      } finally deleteRecursively(staging)
    }
    writeCurrent(dir, numBuckets, cur ++ touched.map(_ -> genName))
    // GC superseded generations per touched bucket (a streaming sink
    // upserting every trigger would otherwise leak one bucket copy per
    // micro-batch). Deletion requires BOTH superseded (not the just-written
    // or just-replaced generation) and aged out of the retention window;
    // unparseable gen timestamps are never deleted.
    touched.foreach { b =>
      val keep = Set(Some(genName), cur.get(b)).flatten
      listDir(bucketDir(dir, numBuckets, b)).foreach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("gen-") && !keep(n) &&
            genMillis(n).exists(now - _ >= retainMillis)) deleteRecursively(p)
      }
    }
  }

  private def genMillis(name: String): Option[Long] =
    name.split('-') match {
      case Array("gen", ms, _) => ms.toLongOption
      case _ => None
    }

  /** Files.list streams hold a directory FD until closed — the forEach
    * one-liner leaked one per micro-batch in the streaming upsert path. */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ListBuffer.empty[Path]
      while (it.hasNext) buf += it.next()
      buf.toList
    } finally s.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
