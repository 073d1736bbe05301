package graft.segments

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Parallelism

/** Physical segment layer (SURVEY W4/A1/W11-W12; reference
  * `SegmentDescriptor` include/woved/types.h:94-105, flush
  * `b-epsilon-tree.h:32-33`, compaction `config.h:54-61`).
  *
  * Layout: one directory per segment under `baseDir`, Parquet partitioned
  * by `centroid_id` — the IVF inverted list IS the directory layout, so a
  * probe of nprobe lists is partition pruning at the file level. Parquet
  * bloom filters on `id_hash` serve the reference's per-segment id bloom
  * (Q5/B4, config.h:124 fpp 0.01). The catalog is an append-only log of
  * descriptor files (driver-side TSV via the Hadoop FS API — metadata
  * touches never pay Spark-job latency); segment replacement is recorded
  * by `replaced_by` tombstone rows (atomic enough for a batch engine:
  * readers take the latest row per segment_id).
  *
  * At 100 TB: descriptors are tiny (one row per ~2M-vector segment,
  * types.h:122) — the catalog joins/filters happen on the driver or a
  * broadcast, never shuffling data files; min/max zone maps prune whole
  * segments before any scan.
  */
object Segments {

  val CatalogDir = "_catalog"
  /** All segment data lives under `baseDir/store/segment_id=S/…` — one
    * hive-partitioned tree (see [[writeSegment]]/[[readPaths]]).
    */
  val StoreDir = "store"

  /** Row-level tag-index tree: `_tagindex/segment_id=S/tag=T/` — keyed
    * like the store so any number of segments' postings read as one
    * multi-path scan.
    */
  val TagIndexDir = "_tagindex"

  /** Mirrors reference SegmentDescriptor (types.h:94-105). */
  final case class SegmentDescriptor(
      segment_id: String,
      file_path: String,
      num_vectors: Long,
      min_id_hash: Long,
      max_id_hash: Long,
      min_epoch: Long,
      max_epoch: Long,
      tombstone_ratio: Double,
      created_at: java.sql.Timestamp,
      is_stable: Boolean,
      replaced_by: Option[String])

  /** ONE scan over N segment roots (the planning-cost analogue of the
    * reference's `max_segments_per_leaf=8` bound, config.h:56): a
    * `paths.map(read.parquet).reduce(unionByName)` plan grows
    * linearly-to-quadratically in analysis cost and plan size with the
    * segment count — at 100× the reference envelope (~16k segments of
    * 2M rows) that is a driver-side planning bottleneck before a single
    * byte is read. A single multi-path `spark.read.parquet(paths: _*)`
    * produces ONE scan node whatever the catalog size (segments share
    * one schema by construction — every one is written by
    * [[writeSegment]] and hive-partitioned by `centroid_id`). Grouped
    * fallback: if the multi-path read refuses (a foreign segment with a
    * conflicting directory layout), fall back to the union of per-root
    * scans — correctness over plan shape for the exotic case.
    */
  /** Read one or more partitioned roots with partition-value TYPE
    * INFERENCE OFF: inference would read an all-digits zero-padded
    * segment_id ("00042") as the int 42, so a cast back to string
    * yields "42" — silently corrupting provenance filters and
    * replaced_by joins. With inference off every partition value
    * arrives as its literal string; `centroid_id` (written from a
    * BIGINT data column) is cast back to long explicitly — lossless,
    * since partitionBy rendered it from an integer value.
    */
  // readInferenceOff toggles SESSION-GLOBAL confs; concurrent serve
  // paths (stored routes fan requests through a thread pool since the
  // request loops went concurrent) can interleave the set/restore
  // windows and capture a sibling's in-flight value — re-enabling
  // inference while another thread's FileIndex is still parsing its
  // partition values, or leaking inference=false into the user's
  // session for good. One lock serializes the window; the listing
  // itself is a one-time cost per distinct path set (the listing cache
  // above serves every later read without touching the confs).
  // ---- segment schema memo --------------------------------------------
  // The DATA schema (and sub-partition key) of every segment/posting root
  // written by THIS JVM's writers, keyed by plain path — the metadata a
  // production catalog records next to the descriptor. A read whose every
  // root is memoized passes the schema explicitly and skips the
  // footer-inference Spark job (one 1-task job + its driver gap per FRESH
  // path set — the write-family battery entries build fresh temp stores
  // per invocation, so each paid it 1-4 times). Partition columns are
  // declared StringType, exactly what inference-off yields, so plans and
  // values are unchanged. Foreign/restarted trees have no memo and infer
  // as before; entries drop with [[invalidateListings]] (rewrite/delete).
  // Schema metadata only — never row data, never a result cache.
  private val schemaMemo = scala.collection.concurrent.TrieMap
    .empty[String, (org.apache.spark.sql.types.StructType, Seq[String])]

  private[graft] def memoWrittenSchema(path: String,
      dataSchema: org.apache.spark.sql.types.StructType,
      subPartCols: Seq[String]): Unit =
    schemaMemo.put(plainPath(path).stripSuffix("/"),
      (dataSchema, subPartCols))

  /** The explicit read schema for `ps` under `basePath`, when every root
    * (or leaf file) resolves to a memoized written root with one agreed
    * data schema: data columns in written order, then every `k=v`
    * partition level between basePath and the files as StringType, in
    * directory order. None ⇒ caller infers from footers as before.
    */
  private def memoSchemaFor(basePath: String,
      ps: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    val base = plainPath(basePath).stripSuffix("/")
    def entryFor(p0: String): Option[(String,
        (org.apache.spark.sql.types.StructType, Seq[String]))] = {
      var p = plainPath(p0).stripSuffix("/")
      while (p.length > base.length && p.startsWith(base)) {
        schemaMemo.get(p) match {
          case Some(v) => return Some((p, v))
          case None =>
            val i = p.lastIndexOf('/')
            if (i <= 0) return None
            p = p.substring(0, i)
        }
      }
      None
    }
    def levelsFor(p0: String, sub: Seq[String]): Seq[String] = {
      val rel = plainPath(p0).stripSuffix("/").stripPrefix(base)
        .stripPrefix("/")
      val seen = rel.split("/").toSeq.filter(_.contains("="))
        .map(_.takeWhile(_ != '='))
      seen ++ sub.filterNot(seen.contains)
    }
    val resolved = ps.map(p => entryFor(p).map { case (_, (ds, sub)) =>
      (ds, levelsFor(p, sub))
    })
    if (resolved.exists(_.isEmpty)) None
    else {
      val all = resolved.map(_.get)
      val (ds, levels) = all.head
      if (all.forall(_ == all.head))
        Some(org.apache.spark.sql.types.StructType(
          ds.fields ++ levels.map(l => org.apache.spark.sql.types
            .StructField(l, org.apache.spark.sql.types.StringType,
              nullable = true))))
      else None
    }
  }

  private val confScopeLock = new Object
  private def readInferenceOff(spark: SparkSession, basePath: String,
      ps: Seq[String]): DataFrame = confScopeLock.synchronized {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    // listing threshold: Spark launches a DISTRIBUTED listing job once a
    // level has > 32 directories — a store at reference geometry has
    // nlist (50-4096) centroid dirs per segment, so every segment read
    // pays a whole Spark job (~130 ms measured) to list directories the
    // driver enumerates in single-digit ms on any HDFS-like metadata
    // service. Scoped to the read, default-respecting (an EXPLICIT user
    // setting wins — detected via the session's settings map, since
    // getOption returns the built-in default for registered confs);
    // past 4096 dirs the distributed listing returns.
    val thrKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val hadKey = spark.sessionState.conf.contains(key)
    val hadThr = spark.sessionState.conf.contains(thrKey)
    val prev = spark.conf.getOption(key)
    val prevThr = spark.conf.getOption(thrKey)
    spark.conf.set(key, "false")
    if (!hadThr) spark.conf.set(thrKey, "4096")
    // the FileIndex (and with it partition-value parsing) materializes
    // eagerly inside the read call, so scoping the conf around it is
    // sound even though the returned plan is lazy.
    // memoized roots pass the written schema explicitly — no footer-
    // inference job; partition columns declared StringType = exactly the
    // inference-off parse (the conf toggles stay for the listing
    // threshold and for the un-memoized fallback)
    val memo = memoSchemaFor(basePath, ps)
    val df =
      try {
        val rd = spark.read.option("basePath", basePath)
        memo.fold(rd)(rd.schema).parquet(ps: _*)
      }
      finally {
        // restore to the EXACT prior state: an implicit default goes
        // back to unset (not an explicit set of the default's value)
        if (hadKey) prev.foreach(v => spark.conf.set(key, v))
        else spark.conf.unset(key)
        if (hadThr) prevThr.foreach(v => spark.conf.set(thrKey, v))
        else spark.conf.unset(thrKey)
      }
    // SEED the memo from an inferred read: segments are immutable, so one
    // footer inference per root serves every later read of ANY file
    // subset under it (the stored point-lookup door reads a different
    // bloom-pruned file subset per request — without the seed each
    // distinct subset re-paid the inference job). putIfAbsent: a
    // writer-recorded schema (exact written nullability) always wins.
    if (memo.isEmpty) {
      val base = plainPath(basePath).stripSuffix("/")
      df.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if l.relation.isInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
          val r = l.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          (r.dataSchema, r.partitionSchema.fieldNames.toSeq)
      }.foreach { case (dataSchema, partCols) =>
        ps.foreach { p =>
          val rel = plainPath(p).stripSuffix("/").stripPrefix(base)
            .stripPrefix("/")
          val head = rel.split("/").headOption.getOrElse("")
          if (head.contains("="))
            schemaMemo.putIfAbsent(s"$base/$head",
              (dataSchema, partCols.drop(1)))
        }
      }
    }
    if (df.columns.contains("centroid_id"))
      df.withColumn("centroid_id", col("centroid_id").cast("long"))
    else df
  }

  // FILE-LISTING cache for multi-path segment scans: segments are
  // IMMUTABLE once published (compaction retires paths instead of
  // rewriting them, and any catalog change yields a DIFFERENT path set
  // and therefore a different key), so a scan's eagerly-built file
  // index stays valid for as long as that exact path set is requested.
  // Without it every point-lookup request re-listed the whole store —
  // at nlist=4096 the per-request listing sweep dominated the facade's
  // stored-door phase 2 (measured ~11.6 s/request over a 3960-file 1M
  // store). Rewrites and DELETES invalidate through the primitives
  // themselves ([[writeSegment]]'s idempotent recovery replay,
  // [[deleteDir]]) — the invariant is enforced where paths change, not
  // by call-site discipline. Keyed by `sessionUUID`, not the session
  // object (a stopped session's entries age out of the LRU instead of
  // pinning the session JVM-wide), and bounded by LRU eviction of the
  // oldest-accessed entry — never a blunt clear that would evict the
  // live store's hot listing along with the retired ones.
  private val listingCache =
    new java.util.LinkedHashMap[(String, Seq[String]), DataFrame](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[String]), DataFrame])
          : Boolean = size() > 64
    }

  /** One spelling for every path comparison across the caches: cached
    * keys arrive scheme-qualified ('file:/…', from inputFiles /
    * input_file_name) while the writers and sweeps pass plain
    * filesystem paths — compared raw, an invalidation would be a
    * silent no-op and a stale bloom's false negative would DROP live
    * rows from point lookups (review-caught before it shipped).
    */
  private[graft] def plainPath(s: String): String =
    if (s.contains(":/"))
      scala.util.Try(new java.net.URI(s).getPath).getOrElse(s)
    else s

  /** Drop cached listings (and cached per-file blooms) under `path` —
    * called by the primitives that REWRITE or DELETE a previously
    * published path ([[writeSegment]]'s idempotent recovery replay,
    * [[deleteDir]]); append-shaped catalog changes never need it
    * (a new segment changes the requested path set, hence the key).
    */
  private[graft] def invalidateListings(path: String): Unit = {
    val target = plainPath(path)
    listingCache.synchronized {
      val it = listingCache.keySet.iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k._2.exists { p0 =>
          val p = plainPath(p0)
          p.startsWith(target) || target.startsWith(p)
        }) it.remove()
      }
    }
    // a rewritten/deleted path's memoized write schema is stale too
    schemaMemo.keys.foreach { k =>
      if (k.startsWith(target) || target.startsWith(k)) schemaMemo.remove(k)
    }
    invalidateBlooms(target)
  }

  // the stable per-session cache-key string: assigned once per session
  // through a WEAK map, so the cache key never holds the session object
  // itself (a stopped session's DataFrame entries then age out of the
  // LRU instead of being pinned by their own key) and two sessions can
  // never alias (unlike an identity hash, which can recycle after GC)
  private val sessionKeys = new java.util.WeakHashMap[SparkSession, String]()
  private def sessionKey(spark: SparkSession): String =
    sessionKeys.synchronized {
      var k = sessionKeys.get(spark)
      if (k == null) {
        k = java.util.UUID.randomUUID().toString
        sessionKeys.put(spark, k)
      }
      k
    }

  private[graft] def readPaths(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    if (paths.isEmpty) spark.emptyDataFrame
    else {
      val key = (sessionKey(spark), paths.sorted)
      Option(listingCache.synchronized(listingCache.get(key)))
        .getOrElse {
          // built outside the lock (the eager listing does IO); a
          // concurrent double-build is harmless — both values are
          // valid for the immutable path set, last insert wins
          val df = readPathsUncached(spark, paths)
          listingCache.synchronized(listingCache.put(key, df))
          df
        }
    }

  private def readPathsUncached(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    {
      // Spark refuses multiple partitioned roots unless they sit under
      // ONE basePath with only key=value components in between — which
      // the store layout guarantees (`store/segment_id=S/centroid_id=K`).
      // Group by parent: key=value-named roots under one parent load as
      // one multi-path scan (basePath=parent, so segment_id/centroid_id
      // materialize as partition columns and prune); a foreign layout —
      // whether detected by name or by the multi-path read itself
      // refusing (e.g. conflicting sub-partitioning under one parent) —
      // falls back to the union of per-path scans: correctness over
      // plan shape for the exotic case.
      val groups = paths.groupBy { p =>
        val hp = new HPath(p)
        val parent = Option(hp.getParent).map(_.toString).getOrElse("")
        (parent, hp.getName.contains("=") && parent.nonEmpty)
      }
      def perPath(ps: Seq[String]): DataFrame =
        ps.map(p => spark.read.parquet(p)).reduce(_ unionByName _)
      // kv fallback: per-root scans must KEEP basePath=parent so the
      // key=value components (segment_id/centroid_id) still materialize
      // as partition columns — downstream provenance filters and
      // replaced_by joins depend on them — and must tolerate the very
      // sub-partition divergence that made the multi-path read refuse
      // (a root with no centroid_id level unions as nulls, not a throw)
      def perRootKv(parent: String, ps: Seq[String]): DataFrame =
        ps.map(p => readInferenceOff(spark, parent, Seq(p)))
          .reduce(_.unionByName(_, allowMissingColumns = true))
      groups.toSeq.sortBy(_._1._1).map { case ((parent, kv), ps) =>
        if (kv) {
          try readInferenceOff(spark, parent, ps)
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              System.err.println(s"[graft] multi-path read of " +
                s"${ps.length} roots under $parent refused " +
                s"(${e.getMessage.takeWhile(_ != '\n')}) — falling back " +
                "to per-root scans (basePath preserved)")
              perRootKv(parent, ps)
          }
        } else perPath(ps)
        // STRICT union across groups: genuinely divergent segment
        // schemas (e.g. a segment written without a data column) are
        // corruption and must surface, not null-fill silently. Only the
        // kv fallback above tolerates missing columns — there the
        // divergence is the known sub-partition case, and it WARNS when
        // it fires. A legitimately mixed store (kv + foreign layouts)
        // still loads: that divergence is PARTITION-LAYOUT-only
        // (segment_id/centroid_id materialize as partition columns on
        // the kv side and not on the foreign side), and only THAT
        // divergence null-fills — loudly. A missing data column
        // rethrows: null-filling it would serve silently wrong rows.
      }.reduce { (a, b) =>
        try a.unionByName(b)
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            val layoutCols = Set("segment_id", "centroid_id")
            val diff = (a.columns.toSet -- b.columns.toSet) ++
              (b.columns.toSet -- a.columns.toSet)
            if (!diff.subsetOf(layoutCols)) throw e
            System.err.println(s"[graft] segment groups diverge in " +
              s"partition-layout columns (${diff.mkString(", ")}) — " +
              "null-filling the missing side")
            a.unionByName(b, allowMissingColumns = true)
        }
      }
    }

  // ---- per-FILE id_hash BLOOM cache (Q5/W8 at the file level) ------
  // Hash-uniform point lookups defeat file-level zone maps: a
  // segment's [min_id_hash, max_id_hash] spans ~the whole Long space
  // after a few rows, so the catalog prune keeps every segment and the
  // scan's only remaining pruning is parquet's OWN per-row-group
  // id_hash bloom — which lives in each file's footer, so consulting
  // it costs a footer+bloom-page read of EVERY candidate file on EVERY
  // request (the measured ~2.3 s/request sweep over a 3,960-file 1M
  // store behind facade_stored_1m_p50_ms). The reference instead holds
  // segment id blooms RESIDENT under a bounded cache
  // (src/cpp/core/config.h:117-125 — bloom fpp 0.01, 1 GiB
  // bitmap/bloom cache). This cache is that design over parquet's own
  // blooms: read each immutable file's blooms ONCE, answer membership
  // driver-side, and hand the scan only the ~k files whose blooms
  // match — the per-request cost becomes O(matching files), not
  // O(store files).
  //
  // SOUNDNESS (the listing cache's argument, enforced by the same
  // primitives): files are immutable once published; the one same-path
  // rewrite ([[writeSegment]]'s idempotent recovery replay) and every
  // delete ([[deleteDir]]) invalidate through [[invalidateListings]].
  // A bloom can only SKIP a file it proves hashless — false positives
  // cost a wasted scan, false negatives are impossible — and a file
  // whose footer carries no bloom (foreign writer, disabled option)
  // caches as ALWAYS-MATCH, so pruning degrades to the unpruned scan,
  // never to a wrong answer.
  /** One row group's membership evidence: the writer's bloom when it
    * wrote one, or the EXACT dictionary page when the id_hash chunk is
    * fully dictionary-encoded (parquet-mr drops the bloom there — the
    * dictionary already answers membership exactly, which is the
    * common shape for the store's small per-list files).
    */
  private sealed trait RgEvidence {
    def mayContain(h: Long): Boolean
    def bytes: Long
  }
  private final case class RgBloom(
      b: org.apache.parquet.column.values.bloomfilter.BloomFilter)
      extends RgEvidence {
    // BlockSplitBloomFilter.hash stages the value in one shared buffer,
    // so concurrent lookups probing the same cached bloom must take
    // turns hashing (findHash only reads the bitset)
    def mayContain(h: Long): Boolean = b.findHash(b.synchronized(b.hash(h)))
    def bytes: Long = b.getBitsetSize.toLong
  }
  private final case class RgDict(sorted: Array[Long])
      extends RgEvidence {
    def mayContain(h: Long): Boolean =
      java.util.Arrays.binarySearch(sorted, h) >= 0
    def bytes: Long = 8L * sorted.length
  }

  private final case class FileBlooms(evidence: IndexedSeq[RgEvidence],
      conservative: Boolean, bytes: Long) {
    def mayContainAny(hashes: Seq[Long]): Boolean =
      conservative ||
        hashes.exists(h => evidence.exists(_.mayContain(h)))
  }

  /** Byte budget for the resident blooms (reference: 1 GiB bloom/bitmap
    * cache, config.h:117-125). Eviction is LRU by access; a store whose
    * blooms exceed the budget keeps serving correctly — evicted files
    * re-read their footer on the next lookup (disclosed once below, so
    * a silently thrashing cache can't masquerade as the warm path).
    */
  private val BloomCacheMaxBytes: Long =
    java.lang.Long.getLong("graft.bloom.cache.bytes", 1L << 30)

  /** Above this many (file × hash) membership probes the driver-side
    * bloom walk would rival the sweep it replaces — and a batch chunk
    * carrying ~100k candidate hashes matches ~every file anyway
    * (birthday bound), so pruning buys nothing there. The caller falls
    * back to the unpruned scan, whose per-file blooms parquet still
    * consults row-group-locally inside the tasks.
    */
  private val BloomMaxProbePairs = 4000000L

  private val bloomCache =
    new java.util.LinkedHashMap[String, FileBlooms](64, 0.75f, true)
  private var bloomCacheBytes = 0L
  private var bloomEvictWarned = false

  // keys are ALWAYS [[plainPath]]-normalized — admitted from URI-form
  // file names, invalidated with plain writer paths; one spelling or
  // the invariant is fiction
  private[graft] def invalidateBlooms(path: String): Unit = {
    val target = plainPath(path)
    bloomCache.synchronized {
      val it = bloomCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(target) || target.startsWith(e.getKey)) {
          bloomCacheBytes -= e.getValue.bytes
          it.remove()
        }
      }
    }
  }

  /** Test hook: cached bloom entries under `path` — the invalidation
    * specs pin that a rewrite/delete actually DROPS entries (a
    * spelling-mismatched comparison would be a silent no-op that UUID
    * part names mask at the value level).
    */
  private[graft] def bloomEntriesUnder(path: String): Int = {
    val target = plainPath(path)
    bloomCache.synchronized {
      var n = 0
      val it = bloomCache.keySet.iterator()
      while (it.hasNext) if (it.next().startsWith(target)) n += 1
      n
    }
  }

  private def admitBloom(file0: String, e: FileBlooms): Unit =
    bloomCache.synchronized {
      val file = plainPath(file0)
      val prev = bloomCache.put(file, e)
      bloomCacheBytes += e.bytes - Option(prev).map(_.bytes).getOrElse(0L)
      if (bloomCacheBytes > BloomCacheMaxBytes) {
        if (!bloomEvictWarned) {
          bloomEvictWarned = true
          System.err.println(s"[graft] id_hash bloom cache exceeds its " +
            s"$BloomCacheMaxBytes-byte budget — evicting LRU; point " +
            "lookups touching evicted files re-read their footers " +
            "(set -Dgraft.bloom.cache.bytes to resize)")
        }
        // accessOrder=true iterates least-recently-accessed first
        val it = bloomCache.entrySet().iterator()
        while (bloomCacheBytes > BloomCacheMaxBytes && it.hasNext) {
          val old = it.next()
          if (old.getKey != file) {
            bloomCacheBytes -= old.getValue.bytes
            it.remove()
          }
        }
      }
    }

  private def readFileBlooms(spark: SparkSession,
      file: String): FileBlooms = {
    import scala.jdk.CollectionConverters._
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new HPath(file), spark.sessionState.newHadoopConf())
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val colDesc = rd.getFileMetaData.getSchema
          .getColumnDescription(Array("id_hash"))
        val perGroup = rd.getRowGroups.asScala.toIndexedSeq.map { bg =>
          bg.getColumns.asScala
            .find(_.getPath.toDotString == "id_hash")
            .map { cc =>
              val bloom =
                rd.getBloomFilterDataReader(bg).readBloomFilter(cc)
              if (bloom != null) RgBloom(bloom)
              else if (Option(cc.getEncodingStats)
                  .exists(!_.hasNonDictionaryEncodedPages)) {
                // fully dictionary-encoded chunk: parquet-mr omits the
                // bloom because the dictionary IS the exact value set
                // — decode it once and answer membership exactly
                // upcast: DictionaryPageReader is package-private, its
                // public face is the DictionaryPageReadStore interface
                val page = (rd.getDictionaryReader(bg):
                  org.apache.parquet.column.page.DictionaryPageReadStore)
                  .readDictionaryPage(colDesc)
                val dict = page.getEncoding.initDictionary(colDesc, page)
                val vals = Array.tabulate(dict.getMaxId + 1)(
                  dict.decodeToLong)
                java.util.Arrays.sort(vals)
                RgDict(vals)
              } else null
            }.orNull
        }
        // a single evidence-less row group makes the FILE unprunable,
        // so the finer per-group bookkeeping would never skip anything
        if (perGroup.isEmpty || perGroup.exists(_ == null))
          FileBlooms(IndexedSeq.empty, conservative = true, bytes = 64L)
        else FileBlooms(perGroup, conservative = false,
          bytes = 64L + perGroup.map(_.bytes).sum)
      } finally rd.close()
    } catch {
      case scala.util.control.NonFatal(t) =>
        System.err.println(s"[graft] id_hash bloom read failed for " +
          s"$file — caching as always-match: ${t.getMessage}")
        FileBlooms(IndexedSeq.empty, conservative = true, bytes = 64L)
    }
  }

  /** Restrict a point lookup's candidate files to those whose id_hash
    * blooms may contain ANY of `hashes`. `None` = pruning declined
    * (probe budget exceeded) — the caller scans unpruned. An empty
    * result is EXACT absence (blooms have no false negatives).
    */
  private[graft] def bloomPruneFiles(spark: SparkSession,
      files: Seq[String], hashes: Seq[Long]): Option[Seq[String]] = {
    if (files.isEmpty || hashes.isEmpty) return None
    if (files.length.toLong * hashes.length > BloomMaxProbePairs)
      return None
    Some(files.filter { f =>
      val e = Option(bloomCache.synchronized(
          bloomCache.get(plainPath(f))))
        .getOrElse {
          val built = readFileBlooms(spark, f)
          admitBloom(f, built)
          built
        }
      e.mayContainAny(hashes)
    })
  }

  /** Stores whose total id_hash payload fits this budget warm EXACT
    * per-file id sets instead of blooms: 8 B/row is the same order as
    * the bloom bitsets parquet wrote (ndv-hint-sized), and exactness
    * matters compounded — a rerank pool of ~40 candidate hashes probed
    * against fpp-0.01-class blooms false-positives ~1-(1-fpp)^40 ≈ a
    * third of the store's files per request (measured: 389 of 3,960
    * matched for 40 hashes at the 1M geometry, ~350 of them false),
    * while exact sets match only the ~40 true files. Past the budget
    * the warm falls back to the footer blooms — disclosed cap, never a
    * wrong answer (blooms only ADD files).
    */
  // read per call, not cached at class-init: the over-budget fallback
  // is the 100 TB shape and must be drivable in a spec via the system
  // property (a val would freeze whatever the first touch saw)
  private def exactIdSetBudgetBytes: Long =
    java.lang.Long.getLong("graft.bloom.exact.bytes", 1L << 30)

  /** Pre-load id_hash membership evidence for every live catalog file
    * — the admission-pass analogue of the reference loading segment
    * blooms at open: after it, no serving request pays a cold footer
    * read. Under the exact-set budget this is ONE distributed job
    * building exact per-file id sets (column-pruned scan of id_hash
    * only); past it, a sequential footer-bloom sweep. Returns the
    * number of files actually loaded (cache misses).
    */
  def warmIdBlooms(spark: SparkSession, baseDir: String,
      eagerBloomsOverBudget: Boolean = true): Int = {
    val descs = catalogDescriptors(spark, baseDir)
    if (descs.isEmpty) return 0
    val paths = descs.map(_.file_path)
    val missing = readPaths(spark, paths).inputFiles
      .filter(f =>
        bloomCache.synchronized(bloomCache.get(plainPath(f))) == null)
    if (missing.isEmpty) return 0
    val totalBytes = descs.map(_.num_vectors).sum * 8L
    // clamped to the resident cache's own budget: an exact budget
    // raised past graft.bloom.cache.bytes would run the full exact job
    // and then LRU-evict part of what it just admitted mid-warm — the
    // next re-warm finds those files 'missing' again and the store
    // re-pays the scan forever (the incremental-warm guarantee the
    // spec pins would silently break)
    val exactBudget = math.min(exactIdSetBudgetBytes, BloomCacheMaxBytes)
    if (totalBytes <= exactBudget) {
      // scan ONLY the missing files (review-caught: scanning the whole
      // store would re-pay a full corpus pass for the one new segment
      // every maintenance re-warm adds)
      val admitted = scala.collection.mutable.Set.empty[String]
      buildExactIdSets(spark, missing.toIndexedSeq)
        .foreach { case (f, arr) =>
          admitBloom(f, FileBlooms(IndexedSeq(RgDict(arr)),
            conservative = false, bytes = 64L + 8L * arr.length))
          admitted += plainPath(f)
        }
      // a zero-row part file never surfaces from the aggregate: its
      // exact evidence is the EMPTY set (otherwise it stays 'missing'
      // and every warm re-pays the scan forever)
      missing.iterator.map(plainPath).filterNot(admitted).foreach(f =>
        admitBloom(f, FileBlooms(IndexedSeq(RgDict(Array.empty[Long])),
          conservative = false, bytes = 64L)))
    } else if (eagerBloomsOverBudget) {
      System.err.println(s"[graft] store id payload $totalBytes B " +
        s"exceeds the exact-set budget $exactBudget B — warming footer " +
        "blooms instead (raise BOTH -Dgraft.bloom.exact.bytes and " +
        "-Dgraft.bloom.cache.bytes to extend the exact path)")
      missing.foreach(f => admitBloom(f, readFileBlooms(spark, f)))
    } else {
      // caller declined the over-budget eager sweep (adoption inside
      // open(): a sequential per-file footer read over the WHOLE store
      // would block every fresh-JVM reopen of exactly the large stores
      // the budget fallback exists for, including handles that never
      // issue a point lookup) — evidence loads lazily per probed file
      System.err.println(s"[graft] store id payload $totalBytes B " +
        s"exceeds the exact-set budget $exactBudget B — skipping the " +
        "eager evidence warm; point lookups load footer blooms lazily")
      return 0
    }
    missing.length
  }

  /** The exact-id-set build job itself: ONE column-pruned distributed
    * scan of `files` aggregating each file's ids, streamed to the
    * driver via toLocalIterator (one partition of boxed rows
    * transient; the returned primitive arrays are the durable bytes —
    * 8 B/row). Shared by [[warmIdBlooms]] and the bench's
    * 100M-geometry twin so the measured job IS the production job,
    * not a replica that can drift.
    */
  private[graft] def buildExactIdSets(spark: SparkSession,
      files: Seq[String], idCol: String = "id_hash")
      : Iterator[(String, Array[Long])] = {
    import scala.jdk.CollectionConverters._
    spark.read.parquet(files: _*)
      .select(input_file_name().as("f"), col(idCol).as("id"))
      .groupBy("f").agg(collect_list(col("id")).as("hs"))
      .toLocalIterator().asScala
      .map { r =>
        val arr = r.getSeq[Long](1).toArray
        java.util.Arrays.sort(arr)
        (r.getString(0), arr)
      }
  }

  /** W4: write one immutable segment from rows carrying
    * (id_hash, epoch, deleted, centroid_id, ...) and append its descriptor.
    * Returns the descriptor. Bloom filter on id_hash enables point-lookup
    * row-group skipping (Q5).
    *
    * `expectedNdvPerFile` sizes the per-file bloom bitset. Parquet
    * allocates ~1.2 bytes/ndv whether rows arrive or not, and the
    * partitionBy(centroid_id) layout splits a segment across nlist files —
    * so the honest hint is rows-per-inverted-list (reference: 2M vectors /
    * 1024 lists ≈ 2k rows/file), NOT the segment total. Oversizing it
    * 1000× is pure write amplification (measured: it pushed WA from ~1.8
    * to 2.6 at bench scale; a 2000-row, 32-list write is 5.28 MB at the
    * 100 000 default and 1.09 MB at 63). Callers that know their input
    * size pass [[ndvPerList]] of it: compaction (its input descriptors),
    * the layout rebuild (the live row count and the new list count) and
    * the WAL recovery segment (the tail's rows and lists). The default
    * stays for writers whose row count is known only after the write.
    */
  def writeSegment(rowsIn: DataFrame, baseDir: String, segmentId: String,
      isStable: Boolean, expectedNdvPerFile: Long = DefaultNdvPerFile,
      appendDesc: Boolean = true,
      repartitionForWrite: Boolean = true): SegmentDescriptor = {
    // provenance (QueryResult.segment_id, types.h:81) is carried by the
    // directory itself: segments live at `store/segment_id=S/` so the
    // whole store is ONE hive tree — N live segments load as ONE
    // multi-path scan (basePath=store) with partition pruning on both
    // segment_id and centroid_id, instead of an N-way union whose
    // planning cost grows with the catalog (the plan-size analogue of
    // the reference's max_segments_per_leaf bound, config.h:56)
    val rows = rowsIn.drop("segment_id")
    val spark = rows.sparkSession
    val path = s"$baseDir/$StoreDir/segment_id=$segmentId"
    // descriptor stats ride along with the write action itself (one pass)
    val obs = new org.apache.spark.sql.Observation(s"seg-$segmentId")
    // one writer per inverted list — avoids the tasks×centroids small-file
    // explosion. A latency-bound
    // caller (the streaming micro-batch flush) passes
    // repartitionForWrite=false: its input is one AQE-coalesced
    // aggregate output, so the extra exchange is a whole sequential
    // query stage bought for nothing — measured ~1/3 of the 100 ms-
    // trigger freshness latency.
    val observed = rows.observe(obs,
        count(lit(1)).as("n"),
        min(col("id_hash")).as("minh"), max(col("id_hash")).as("maxh"),
        min(col("epoch")).as("mine"), max(col("epoch")).as("maxe"),
        avg(col("deleted").cast("double")).as("tr"))
    // the repartition keeps one writer per inverted list (no tasks×lists
    // small-file explosion) — with an EXPLICIT width so the write stage
    // cannot AQE-coalesce to one task that writes all nlist files
    // sequentially (see Parallelism.pinWriteWidth: the measured ~0.7 s
    // per-segment "write floor" was exactly that serialization; pinning
    // the width halves the write wall, incl. for one-partition inputs,
    // which previously skipped the exchange — r16 ProfWritePar: onePart
    // noshuffle 0.98 s vs onePart+pinned 0.53 s).
    (if (repartitionForWrite)
       Parallelism.pinWriteWidth(observed, col("centroid_id"))
     else observed).write
      .mode(SaveMode.Overwrite)
      .partitionBy("centroid_id")
      .option("parquet.bloom.filter.enabled#id_hash", "true")
      .option("parquet.bloom.filter.expected.ndv#id_hash",
        expectedNdvPerFile.toString)
      // commit algorithm v2: task commit moves each centroid-dir file
      // into place directly instead of a second job-commit rename pass.
      // v1's job-level atomicity buys nothing here — the segment is
      // invisible until its DESCRIPTOR is appended (the catalog is the
      // publish point; a torn data dir without one is never read), and
      // per-list writes mean O(nlist) renames per segment that v2 halves
      // (guide §6: commit cost scales with file count)
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .parquet(path)
    recordSegmentWrite(path, rows.schema)
    val m = obs.get
    def longOr(k: String, d: Long): Long =
      Option(m(k)).map(_.asInstanceOf[Long]).getOrElse(d)
    val desc = SegmentDescriptor(
      segmentId, path,
      longOr("n", 0L),
      longOr("minh", 0L), longOr("maxh", 0L),
      longOr("mine", 0L), longOr("maxe", 0L),
      Option(m("tr")).map(_.asInstanceOf[Double]).getOrElse(0.0),
      new java.sql.Timestamp(System.currentTimeMillis()),
      isStable, None)
    // appendDesc=false lets compaction/rebuild publish the new segment
    // and retire its inputs in ONE atomic catalog append — a crash can
    // then never leave both generations active
    if (appendDesc) appendCatalog(spark, baseDir, Seq(desc))
    desc
  }

  /** [[writeSegment]]'s bloom hint when the caller does not know its
    * rows per list.
    */
  val DefaultNdvPerFile = 100000L

  /** The per-file id bloom hint for `rows` rows spread over `lists`
    * inverted lists: twice the mean list size, so a list up to twice
    * the mean keeps the configured fpp.
    */
  def ndvPerList(rows: Long, lists: Int): Long =
    math.max(1L, 2L * ((rows + lists - 1) / math.max(1, lists)))

  /** Post-write bookkeeping every segment writer shares: a write that
    * REPLACES an existing segment path (an idempotent replay of a flush
    * or of the recovery segment) must not leave stale cached listings
    * or blooms over the old files, and the written data schema
    * (all columns minus the partition key, in written order) is recorded
    * so later reads skip footer inference.
    */
  private def recordSegmentWrite(path: String,
      rowsSchema: org.apache.spark.sql.types.StructType): Unit = {
    invalidateListings(path)
    memoWrittenSchema(path,
      org.apache.spark.sql.types.StructType(
        rowsSchema.filterNot(_.name == "centroid_id")),
      Seq("centroid_id"))
  }

  /** W4 for a batch already on the driver: the delta flush of
    * `IngestPipeline.flushBatch` without a Spark plan, for callers that
    * hold an RPC-bounded batch (the facade's upsert). `rows` carry
    * `schema` (at least `id_hash`, `epoch`, `deleted`, `centroid_id`).
    *
    * Same contract as `flushBatch`:
    *  - within-batch LWW exactly as [[graft.operators.Lww.latestBy]]: a
    *    row with a null `id_hash` or `epoch` drops (the join key), the
    *    max epoch per `id_hash` wins, and every row tied at it stays;
    *  - each segment directory is deleted before it is written, so a
    *    replay rewrites the same segment;
    *  - past `maxRowsPerSegment` rows the batch splits by
    *    `floorMod(id_hash, parts)` into `<segmentId>-PP` segments;
    *  - nothing is visible until ONE catalog append publishes them all.
    *
    * Files land at `segment_id=S/centroid_id=C/part-…parquet`, one per
    * list, written by Spark's own `ParquetWriteSupport` under the
    * session's parquet write settings, so footers, Spark schema metadata
    * and list encoding are those of [[writeSegment]]. Each file's
    * `id_hash` bloom is sized to that file's row count (the fpp is
    * parquet's default, as in [[writeSegment]]). Files are created
    * through a `LocalFileSystem` this call owns, whose permission
    * setting is in-process ([[InProcessChmodFs]]): the stock one forks
    * `chmod` for every file, checksum file and directory it creates
    * when no native Hadoop library is loaded. Bytes still count in
    * Hadoop's `file` statistics and `.crc` files are kept. Local stores
    * only. Returns the published descriptors (empty when no row
    * survives).
    */
  private[graft] def flushRows(spark: SparkSession, baseDir: String,
      segmentId: String, schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row],
      maxRowsPerSegment: Long): Seq[SegmentDescriptor] = {
    require(hfs(spark, baseDir).getScheme == "file",
      s"flushRows writes local stores only: $baseDir")
    val hi = schema.fieldIndex("id_hash")
    val ei = schema.fieldIndex("epoch")
    val keyed = rows.filter(r => !r.isNullAt(hi) && !r.isNullAt(ei))
    val maxEpoch = scala.collection.mutable.HashMap.empty[Long, Long]
    keyed.foreach { r =>
      val h = r.getLong(hi)
      val e = r.getLong(ei)
      if (maxEpoch.get(h).forall(_ < e)) maxEpoch(h) = e
    }
    val latest = keyed.filter(r => r.getLong(ei) == maxEpoch(r.getLong(hi)))
    if (latest.isEmpty) {
      deleteDir(plainPath(s"$baseDir/$StoreDir/segment_id=$segmentId"))
      return Seq.empty
    }
    val n = latest.length.toLong
    val slices =
      if (n <= maxRowsPerSegment) Seq(segmentId -> latest)
      else {
        val parts = (n + maxRowsPerSegment - 1) / maxRowsPerSegment
        (0L until parts).map(p => f"$segmentId%s-$p%02d" ->
          latest.filter(r => java.lang.Math.floorMod(r.getLong(hi), parts) == p))
      }
    val descs = slices.map { case (id, rs) =>
      writeRowsSegment(spark, baseDir, id, schema, rs)
    }
    appendCatalog(spark, baseDir, descs)
    descs
  }

  /** One unpublished segment from driver rows (see [[flushRows]]). */
  private def writeRowsSegment(spark: SparkSession, baseDir: String,
      segmentId: String, schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]): SegmentDescriptor = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetOptions, ParquetUtils}
    val path = s"$baseDir/$StoreDir/segment_id=$segmentId"
    deleteDir(plainPath(path))
    // writeSegment's input drops any segment_id column, then partitions
    // by centroid_id: the data columns are the rest, in input order
    val dataIdx = schema.fields.indices.filterNot(i =>
      schema(i).name == "segment_id" || schema(i).name == "centroid_id")
    val dataSchema = org.apache.spark.sql.types.StructType(
      dataIdx.map(schema(_)))
    val hi = schema.fieldIndex("id_hash")
    val ei = schema.fieldIndex("epoch")
    val di = schema.fieldIndex("deleted")
    val ci = schema.fieldIndex("centroid_id")
    // the session's parquet write settings, set exactly as a Spark
    // parquet write sets them (schema, legacy format, timestamp type,
    // field ids, rebase modes, compression)
    val sqlConf = spark.sessionState.conf
    val opts = new ParquetOptions(Map.empty[String, String], sqlConf)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    ParquetUtils.prepareWrite(sqlConf, job, dataSchema, opts)
    val conf = job.getConfiguration
    val codec = org.apache.parquet.hadoop.metadata.CompressionCodecName
      .fromConf(opts.compressionCodecClassName)
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(dataSchema)
    val fs = new org.apache.hadoop.fs.LocalFileSystem(new InProcessChmodFs)
    fs.initialize(java.net.URI.create("file:///"), conf)
    try {
      fs.mkdirs(new HPath(path))
      rows.groupBy { r =>
        require(!r.isNullAt(ci), s"flushRows: null centroid_id in $segmentId")
        r.getLong(ci)
      }.foreach { case (cid, rs) =>
        val file = new HPath(s"$path/centroid_id=$cid/part-00000-" +
          s"${java.util.UUID.randomUUID()}.c000${codec.getExtension}.parquet")
        val w = new InternalRowParquetBuilder(new FsOutputFile(fs, file))
          .withConf(conf)
          .withCompressionCodec(codec)
          .withBloomFilterEnabled("id_hash", true)
          .withBloomFilterNDV("id_hash", rs.length.toLong)
          .build()
        try rs.foreach(r => w.write(toCatalyst(
            org.apache.spark.sql.Row.fromSeq(dataIdx.map(r.get)))
          .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
        finally w.close()
      }
    } finally fs.close()
    recordSegmentWrite(path, dataSchema)
    // writeSegment's observed stats: count, min/max id_hash and epoch
    // (never null past the LWW), avg(deleted) over non-null values, and
    // 0 where an empty input leaves an aggregate null
    def range(i: Int) =
      if (rows.isEmpty) (0L, 0L)
      else (rows.iterator.map(_.getLong(i)).min,
        rows.iterator.map(_.getLong(i)).max)
    val (minH, maxH) = range(hi)
    val (minE, maxE) = range(ei)
    val dels = rows.filter(r => !r.isNullAt(di))
    SegmentDescriptor(segmentId, path, rows.length.toLong,
      minH, maxH, minE, maxE,
      if (dels.isEmpty) 0.0
      else dels.count(_.getBoolean(di)).toDouble / dels.length,
      new java.sql.Timestamp(System.currentTimeMillis()),
      is_stable = false, replaced_by = None)
  }

  /** A parquet-mr writer of Spark rows through Spark's own write support
    * (reads its schema and settings from the conf `prepareWrite` filled).
    */
  private final class InternalRowParquetBuilder(
      out: org.apache.parquet.io.OutputFile)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        org.apache.spark.sql.catalyst.InternalRow,
        InternalRowParquetBuilder](out) {
    override protected def self(): InternalRowParquetBuilder = this
    override protected def getWriteSupport(
        conf: org.apache.hadoop.conf.Configuration) =
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetWriteSupport()
  }

  /** A parquet output file created through a given FileSystem instance
    * (parquet's own `HadoopOutputFile` resolves the cached one), with
    * `HadoopOutputFile`'s buffer and no block alignment, as for `file:`.
    */
  private final class FsOutputFile(fs: FileSystem, p: HPath)
      extends org.apache.parquet.io.OutputFile {
    private def open(overwrite: Boolean) =
      org.apache.parquet.hadoop.util.HadoopStreams.wrap(
        fs.create(p, overwrite, 4096))
    override def create(blockSizeHint: Long) = open(overwrite = false)
    override def createOrOverwrite(blockSizeHint: Long) =
      open(overwrite = true)
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = fs.getDefaultBlockSize(p)
    override def getPath: String = p.toString
  }

  /** Hadoop's raw local filesystem with permissions set in-process.
    * Without the native Hadoop library (Spark's distribution ships
    * none) the stock `setPermission` forks `chmod` for every file,
    * checksum file and directory created — about three forks per
    * written parquet file. The mode bits are the same.
    */
  private final class InProcessChmodFs
      extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def setPermission(p: HPath,
        perm: org.apache.hadoop.fs.permission.FsPermission): Unit = {
      import java.nio.file.attribute.PosixFilePermission._
      val bits = perm.toShort.toInt
      val all = Seq(OWNER_READ -> 256, OWNER_WRITE -> 128,
        OWNER_EXECUTE -> 64, GROUP_READ -> 32, GROUP_WRITE -> 16,
        GROUP_EXECUTE -> 8, OTHERS_READ -> 4, OTHERS_WRITE -> 2,
        OTHERS_EXECUTE -> 1)
      val set = java.util.EnumSet.noneOf(
        classOf[java.nio.file.attribute.PosixFilePermission])
      all.foreach { case (pp, b) => if ((bits & b) != 0) set.add(pp) }
      Files.setPosixFilePermissions(pathToFile(p).toPath, set)
    }
  }

  // ---- catalog store: driver-side metadata files, never a Spark job ----
  // The catalog is ~1 row per 2M-vector segment (types.h:122) — at 100 TB
  // that's a few thousand rows, i.e. driver-memory-sized by construction.
  // Reading/writing it through Spark jobs pays whole-job latency per
  // metadata touch (measured: ~40% of a compaction cycle); instead each
  // append is one new immutable file of TSV descriptor lines via the
  // Hadoop FS API (works on HDFS/S3 like any table root), and readers
  // list + parse driver-side. Latest-append-wins per segment_id gives the
  // same semantics as the reference's in-memory manifest swap.

  private val appendSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def hfs(spark: SparkSession, dir: String): FileSystem =
    new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def encode(d: SegmentDescriptor): String = {
    require(!(d.segment_id + d.file_path + d.replaced_by.getOrElse(""))
      .exists(c => c == '\t' || c == '\n'), s"descriptor fields: $d")
    Seq(d.segment_id, d.file_path, d.num_vectors, d.min_id_hash,
      d.max_id_hash, d.min_epoch, d.max_epoch, d.tombstone_ratio,
      d.created_at.getTime, d.is_stable, d.replaced_by.getOrElse(""))
      .mkString("\t")
  }

  private def decode(line: String): SegmentDescriptor = {
    val f = line.split("\t", -1)
    SegmentDescriptor(f(0), f(1), f(2).toLong, f(3).toLong, f(4).toLong,
      f(5).toLong, f(6).toLong, f(7).toDouble,
      new java.sql.Timestamp(f(8).toLong), f(9).toBoolean,
      if (f(10).isEmpty) None else Some(f(10)))
  }

  private def appendLines(spark: SparkSession, dir: String,
      prefix: String, lines: Seq[String]): Unit = {
    // nanoTime + process-wide counter: unique and monotonic within the
    // driver, so file order IS append order (concurrent flushes included)
    val name = f"$prefix-${System.nanoTime()}%020d-${appendSeq.incrementAndGet()}%06d.tsv"
    writeLinesNamed(spark, dir, name, lines)
  }

  private def writeLinesNamed(spark: SparkSession, dir: String,
      name: String, lines: Seq[String]): Unit = {
    val fs = hfs(spark, dir)
    fs.mkdirs(new HPath(dir))
    // write-then-rename: readers filter on the `prefix-` name, so the
    // in-flight `.tmp.` file is invisible and the append becomes visible
    // atomically (single-file rename on HDFS/local) — a crash mid-write
    // can never expose a torn descriptor line
    val tmp = new HPath(dir, s".tmp.$name")
    val out = fs.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new HPath(dir, name)))
      throw new java.io.IOException(s"rename failed: $tmp -> $name")
  }

  private def readLines(spark: SparkSession, dir: String,
      prefix: String): Seq[String] = {
    val fs = hfs(spark, dir)
    val p = new HPath(dir)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith(s"$prefix-"))
      .sortBy(_.getName)
      .toSeq
      .flatMap { f =>
        val in = fs.open(f)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toList
        finally in.close()
      }
  }

  private[graft] def appendCatalog(spark: SparkSession, baseDir: String,
      descs: Seq[SegmentDescriptor]): Unit =
    appendLines(spark, s"$baseDir/$CatalogDir", "desc", descs.map(encode))

  /** Every descriptor row ever appended, in append order — the full
    * manifest history (write-amplification accounting, debugging).
    */
  def allDescriptors(spark: SparkSession, baseDir: String): Seq[SegmentDescriptor] =
    readLines(spark, s"$baseDir/$CatalogDir", "desc").map(decode)

  /** A1: latest catalog state — one row per segment_id (last append wins),
    * dropping segments superseded by compaction. Driver-side: no Spark job.
    */
  def catalogDescriptors(spark: SparkSession,
      baseDir: String): Seq[SegmentDescriptor] = {
    val latest = scala.collection.mutable.LinkedHashMap
      .empty[String, SegmentDescriptor]
    allDescriptors(spark, baseDir).foreach(d => latest(d.segment_id) = d)
    latest.values.filter(_.replaced_by.isEmpty).toSeq
  }

  /** A1 as a DataFrame (local relation — still no scan job). */
  def catalog(spark: SparkSession, baseDir: String): DataFrame = {
    import spark.implicits._
    catalogDescriptors(spark, baseDir).toDF()
  }

  /** A4: catalog stats — per-tier segment counts, vectors, tombstone debt. */
  def catalogStats(spark: SparkSession, baseDir: String): DataFrame =
    catalog(spark, baseDir)
      .groupBy(col("is_stable"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("num_vectors")).as("n_vectors"),
        max(col("tombstone_ratio")).as("max_tombstone_ratio"))

  /** Q5/B4: per-segment tag statistics — the Spark analogue of the
    * reference's per-segment roaring tag bitmap CATALOG
    * (config.h:117-125). If the rows carry an array `tags` column,
    * record the per-tag row counts (tag dictionary is ≤50k by contract)
    * per segment; tags-ANY queries then prune whole segments before any
    * scan, and the counts drive the dense/sparse decision for the
    * row-level index ([[scanForTagsRowLevel]]).
    */
  def writeTagStats(rows: DataFrame, baseDir: String,
      segmentId: String): Unit = {
    val spark = rows.sparkSession
    val counts = rows.select(explode(col("tags")).as("tag"))
      .groupBy(col("tag")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    appendLines(spark, s"$baseDir/_tagstats", "tags",
      Seq(s"$segmentId\t${counts.map { case (t, c) => s"$t:$c" }.mkString(",")}"))
  }

  /** Parsed tag stats: segment → (tag → row count). Tolerates the older
    * count-less `tag,tag` line form (count −1 = unknown). Latest line
    * per segment wins, matching the catalog's append semantics.
    */
  def tagStatsCounts(spark: SparkSession,
      baseDir: String): Map[String, Map[Int, Long]] = {
    val latest = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[Int, Long]]
    readLines(spark, s"$baseDir/_tagstats", "tags").foreach { line =>
      val f = line.split("\t", -1)
      val tags =
        if (f.length < 2 || f(1).isEmpty) Map.empty[Int, Long]
        else f(1).split(",").map { e =>
          e.split(":") match {
            case Array(t, c) => t.toInt -> c.toLong
            case Array(t) => t.toInt -> -1L
          }
        }.toMap
      latest(f(0)) = tags
    }
    latest.toMap
  }

  /** Segments that can contain ≥1 of `tagsAny` — a driver-side filter of
    * the tiny stats table, never the data.
    */
  def segmentsForTags(spark: SparkSession, baseDir: String,
      tagsAny: Seq[Int]): Seq[String] = {
    val want = tagsAny.toSet
    tagStatsCounts(spark, baseDir)
      .collect { case (seg, tags) if tags.keys.exists(want) => seg }
      .toSeq.distinct
  }

  /** B4 row-level tag index — the Spark analogue of the reference's
    * per-segment roaring tag BITMAPS (config.h:117-125, CRoaring in
    * conanfile.txt:9): one posting list of row ids per (segment, tag),
    * written at flush as Parquet partitioned BY TAG so a tags-ANY read
    * opens only the requested tags' directories. `idCols` must uniquely
    * key rows within the segment (the posting is a row-id set, not a
    * version set) — pass e.g. Seq("vec_id", "epoch") for multi-version
    * segments. Build cost is one explode + partitioned write per flush,
    * the same point the reference builds its bitmaps.
    */
  def writeTagIndex(rows: DataFrame, baseDir: String, segmentId: String,
      idCols: Seq[String] = Seq("vec_id")): Unit = {
    // keyed layout (`_tagindex/segment_id=S/tag=T/`): like the store
    // tree, ALL sparse segments' postings load as ONE multi-path scan
    // (basePath=_tagindex) pruned on both keys — so a tags-ANY read
    // does one posting read + one semi-join regardless of how many
    // segments take the sparse branch, instead of one join subtree per
    // segment (the r6 plan-growth residue)
    // explicit-width exchange for the same reason as writeSegment: a
    // bench-scale posting set AQE-coalesces to one task writing every
    // tag dir's file sequentially (Parallelism.pinWriteWidth)
    val proj =
      rows.select(idCols.map(col) :+ explode(col("tags")).as("tag"): _*)
    Parallelism.pinWriteWidth(proj, col("tag"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("tag")
      // commit v2 — same argument as writeSegment: per-tag dirs mean
      // O(tags) renames, and the index is read only after this call
      // returns (no mid-write reader to protect)
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .parquet(s"$baseDir/$TagIndexDir/segment_id=$segmentId")
    memoWrittenSchema(s"$baseDir/$TagIndexDir/segment_id=$segmentId",
      org.apache.spark.sql.types.StructType(
        proj.schema.filterNot(_.name == "tag")),
      Seq("tag"))
  }

  /** Q3/B4 row-level tag read: segment-level prune via the tag stats,
    * then per segment the reference's dense/sparse split
    * (config.h:119 dense threshold 0.2):
    *
    *  - SPARSE (bound selectivity < `denseThreshold` and a tag index
    *    exists): semi-join the segment scan against the requested tags'
    *    postings — the scan decodes only rows surviving the join, and
    *    with the postings broadcast (they are driver-bounded by the
    *    selectivity decision itself) Parquet row groups with no tagged
    *    row are skipped via min/max + bloom instead of decoding every
    *    row's tags array;
    *  - DENSE: the in-scan `arrays_overlap` predicate — a bitmap join
    *    would touch most row groups anyway, so the predicate is cheaper
    *    (exactly the reference's rationale for the 0.2 threshold).
    *
    * Both branches produce identical rows (the posting set IS the
    * predicate's satisfying set when `idCols` is row-unique), so the
    * choice is invisible to results — only to the physical plan.
    */
  def scanForTagsRowLevel(spark: SparkSession, baseDir: String,
      tagsAny: Seq[Int], denseThreshold: Double = 0.2,
      idCols: Seq[String] = Seq("vec_id")): DataFrame = {
    val want = tagsAny.toSet
    val stats = tagStatsCounts(spark, baseDir)
    val fs = hfs(spark, baseDir)
    val pred = arrays_overlap(col("tags"), lit(tagsAny.toArray))
    // split the surviving segments by branch FIRST: every dense segment
    // shares the one in-scan predicate, so they load as a single
    // multi-path scan ([[readPaths]]) instead of one scan node per
    // segment — only sparse segments (per-segment posting join) need
    // their own branch, and those are bounded by the selectivity
    // decision itself
    val densePaths = Seq.newBuilder[String]
    // keyed sparse segments: (data path, posting root, posting bound)
    val sparseKeyed = Seq.newBuilder[(String, String, Long)]
    // legacy un-keyed `_tagindex/S` layout — per-segment branch kept
    // only for trees written before the keyed layout existed
    val sparseLegacy = Seq.newBuilder[DataFrame]
    catalogDescriptors(spark, baseDir).foreach { d =>
      stats.get(d.segment_id) match {
        case Some(tc) if !tc.keys.exists(want) =>
          () // provably tag-free segment — pruned, never opened
        case other =>
          val bound = other.map(_.filter(kv => want(kv._1)).values.sum)
            .getOrElse(-1L)
          val sel =
            if (bound < 0) 1.0 // unknown stats → dense fallback
            else bound.toDouble / math.max(1L, d.num_vectors)
          val keyed = s"$baseDir/$TagIndexDir/segment_id=${d.segment_id}"
          val legacy = s"$baseDir/$TagIndexDir/${d.segment_id}"
          if (sel < denseThreshold && fs.exists(new HPath(keyed)))
            sparseKeyed += ((d.file_path, keyed, math.max(0L, bound)))
          else if (sel < denseThreshold && fs.exists(new HPath(legacy))) {
            val ids = spark.read.parquet(legacy)
              .filter(col("tag").isin(tagsAny: _*)) // partition pruning
              .select(idCols.map(col): _*).distinct()
            sparseLegacy += readPaths(spark, Seq(d.file_path))
              .join(broadcast(ids), idCols, "left_semi")
          } else densePaths += d.file_path
      }
    }
    // ONE sparse branch for every keyed segment: the consolidated
    // multi-path store scan (segment_id is a partition column) semi-
    // joined against the consolidated multi-path posting scan, pruned
    // on BOTH keys (segment_id roots + tag directories). Plan size is
    // O(1) in the number of sparse segments — at 16k segments with a
    // rare tag this is one join node, not 16k subtrees.
    val keyedSegs = sparseKeyed.result()
    val sparseParts =
      if (keyedSegs.isEmpty) Seq.empty[DataFrame]
      else {
        val postings = readInferenceOff(spark, s"$baseDir/$TagIndexDir",
            keyedSegs.map(_._2))
          // inference is off, so `tag` partition values are strings —
          // match them as strings to keep directory-level pruning
          .filter(col("tag").isin(tagsAny.map(_.toString): _*))
          .select(col("segment_id") +: idCols.map(col): _*).distinct()
        val joinKeys = "segment_id" +: idCols
        val scan = readPaths(spark, keyedSegs.map(_._1))
        // postings are bounded by the selectivity decision per segment;
        // broadcast while the summed bound stays driver-sized, plain
        // shuffled semi-join (AQE decides the strategy) beyond it
        val totalBound = keyedSegs.map(_._3).sum
        val rhs =
          if (totalBound <= 4000000L) broadcast(postings) else postings
        Seq(scan.join(rhs, joinKeys, "left_semi"))
      }
    val parts = (densePaths.result() match {
      case Seq() => Seq.empty[DataFrame]
      case ps    => Seq(readPaths(spark, ps).filter(pred))
    }) ++ sparseParts ++ sparseLegacy.result()
    if (parts.isEmpty) spark.emptyDataFrame
    else parts.reduce(_ unionByName _)
  }

  /** Tag-pruned scan: only segments whose tag set overlaps the query. */
  def scanForTags(spark: SparkSession, baseDir: String,
      tagsAny: Seq[Int]): DataFrame = {
    val segs = segmentsForTags(spark, baseDir, tagsAny).toSet
    val paths = catalogDescriptors(spark, baseDir)
      .filter(d => segs(d.segment_id)).map(_.file_path)
    if (paths.isEmpty) spark.emptyDataFrame
    else readPaths(spark, paths)
      .filter(arrays_overlap(col("tags"), lit(tagsAny.toArray)))
  }

  /** Zone-map pruned scan: read only segments whose [min,max] id_hash range
    * can contain `idHash` (types.h:98-99). File list comes from the
    * catalog — unmatched segments are never opened. Bloom-pruned at the
    * file level like [[scanForIdHashes]].
    */
  def scanForIdHash(spark: SparkSession, baseDir: String,
      idHash: Long): DataFrame =
    scanForIdHashes(spark, baseDir, Seq(idHash))
      .getOrElse(spark.emptyDataFrame)

  /** Batched point lookup (W8 over the stored tree): zone-map prune at
    * the catalog, then the RESIDENT per-file id_hash blooms cut the
    * candidate files to the ~k that can contain the hashes (hash-
    * uniform ids make the zone maps vacuous past the first prune —
    * see the bloom cache above), then one IN-filtered scan over just
    * those files — the IN list still pushes down to Parquet row-group
    * stats and blooms inside them (Q5/B4), so unmatched row groups are
    * skipped without decoding.
    */
  def scanForIdHashes(spark: SparkSession, baseDir: String,
      idHashes: Seq[Long]): Option[DataFrame] = {
    val paths = zoneMapPaths(spark, baseDir, idHashes)
    if (paths.isEmpty) None
    else {
      val full = readPaths(spark, paths)
      val pred = col("id_hash").isin(idHashes: _*)
      val all = full.inputFiles.toIndexedSeq
      // inputFiles come back as URIs (file:///…); compare against the
      // store root scheme-lessly so the basePath guard matches the
      // same filesystem path however it is spelled
      def fsPath(s: String): String =
        if (s.contains(":/")) new java.net.URI(s).getPath else s
      val storeBase = fsPath(s"$baseDir/$StoreDir") + "/"
      bloomPruneFiles(spark, all, idHashes) match {
        case Some(matching) if matching.isEmpty =>
          // every candidate file's bloom PROVES the hashes absent —
          // exact, not approximate (no false negatives)
          None
        case Some(matching) if matching.length < all.length &&
            matching.forall(f => fsPath(f).startsWith(storeBase)) =>
          // leaf-file read under the one store basePath, so
          // segment_id/centroid_id still materialize as partition
          // columns; a foreign layout (files outside the store tree)
          // falls back to the unpruned scan — correctness over plan
          // shape for the exotic case
          Some(readInferenceOff(spark, s"$baseDir/$StoreDir", matching)
            .filter(pred))
        case _ => Some(full.filter(pred))
      }
    }
  }

  /** Live segment roots whose [min,max] id_hash zone map can hold any
    * of `idHashes` — the catalog-level prune both point lookups share.
    */
  private def zoneMapPaths(spark: SparkSession, baseDir: String,
      idHashes: Seq[Long]): Seq[String] =
    catalogDescriptors(spark, baseDir)
      .filter(d => idHashes.exists(h => d.min_id_hash <= h && h <= d.max_id_hash))
      .map(_.file_path)

  /** Files [[scoreLatestByIdHash]] opens for `idHashes`: the zone-map
    * prune at the catalog, then the resident per-file id evidence (exact
    * id sets or footer blooms), exactly as [[scanForIdHashes]] prunes.
    * Empty = the hashes are provably absent; a declined evidence prune
    * (probe budget) keeps every zone-map-surviving file.
    */
  private[graft] def pointLookupFiles(spark: SparkSession, baseDir: String,
      idHashes: Seq[Long]): Seq[String] = {
    val paths = zoneMapPaths(spark, baseDir, idHashes)
    if (paths.isEmpty) Seq.empty
    else {
      val all = readPaths(spark, paths).inputFiles.toIndexedSeq
      bloomPruneFiles(spark, all, idHashes).getOrElse(all)
    }
  }

  /** Plan-free scored point lookup — phase 2 of the two-phase PQ
    * search (the reference's rerank, config.h:93, over the W8 latest-by-
    * id lookup, latest-by-id.h:170-200). `askers` maps each wanted
    * id_hash to the indices of the `queries` that asked for it. The
    * pruned files ([[pointLookupFiles]]) are read straight through
    * parquet-mr, driver-side on a small pool the call owns
    * ([[LookupReadThreads]] readers), projected to `id_hash`, `epoch`,
    * `deleted` and `vec` (`array<float>` or `array<double>`), with an
    * `id_hash IN (…)` filter that skips row groups (stats, dictionary,
    * bloom), pages (column index) and records that cannot match. No
    * Spark job, no Catalyst plan.
    *
    * Rows resolve last-writer-wins as [[graft.operators.Lww.latestBy]]
    * does — the max `epoch` per id_hash wins (epochs are unique by
    * construction), and a winner that is `deleted` or carries a null
    * `vec` is dropped — and every surviving row is scored against each
    * asking query with [[graft.index.ServingIndex.scoreOne]], the same
    * arithmetic order as the `l2SqD`/`dotD`/`cosineD` kernels, so the
    * scores are bit-equal to the plan's. Only (epoch, scores) is kept
    * per candidate, never the vector. `emit(qi, idHash, score)` fires
    * once per (asking query, live candidate), in no particular order.
    */
  def scoreLatestByIdHash(spark: SparkSession, baseDir: String,
      queries: IndexedSeq[Array[Float]],
      askers: scala.collection.Map[Long, Array[Int]], metric: String)(
      emit: (Int, Long, Double) => Unit): Unit = {
    if (askers.isEmpty) return
    val hashes = askers.keys.toIndexedSeq
    val files = pointLookupFiles(spark, baseDir, hashes)
    if (files.isEmpty) return
    val conf = spark.sessionState.newHadoopConf()
    val wanted = new java.util.HashSet[java.lang.Long](hashes.length * 2)
    hashes.foreach(h => wanted.add(h))
    val filter = org.apache.parquet.filter2.compat.FilterCompat.get(
      org.apache.parquet.filter2.predicate.FilterApi.in[java.lang.Long,
        org.apache.parquet.filter2.predicate.Operators.LongColumn](
        org.apache.parquet.filter2.predicate.FilterApi.longColumn("id_hash"),
        wanted))
    val norms = queries.map(q =>
      if (metric == "cosine") graft.index.ServingIndex.queryNormSq(q)
      else Double.NaN)
    // per id_hash: the latest version one file holds; a null score
    // array marks a winner that is deleted or vec-less (it still masks
    // older versions)
    def readFile(f: String): java.util.HashMap[Long, LookupWinner] = {
      val latest = new java.util.HashMap[Long, LookupWinner]()
      val rd = new org.apache.parquet.hadoop.ParquetReader.Builder[LookupRow](
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new HPath(f), conf)) {
        override protected def getReadSupport() = new LookupReadSupport
      }.withConf(conf).withFilter(filter).build()
      try {
        var r = rd.read()
        while (r != null) {
          val qis = askers.getOrElse(r.idHash, null)
          val prev = latest.get(r.idHash)
          if (qis != null && r.hasEpoch &&
              (prev == null || r.epoch > prev.epoch)) {
            val scores =
              if (!r.hasDeleted || r.deleted || !r.hasVec) null
              else {
                val out = new Array[Double](qis.length)
                var j = 0
                while (j < qis.length) {
                  val q = queries(qis(j))
                  if (r.n != q.length)
                    throw new IllegalArgumentException(s"point lookup: " +
                      s"vector dimensions differ (${q.length} vs ${r.n})")
                  out(j) = graft.index.ServingIndex.scoreOne(q, r.vec,
                    metric, norms(qis(j)))
                  j += 1
                }
                out
              }
            latest.put(r.idHash, LookupWinner(r.epoch, scores))
          }
          r = rd.read()
        }
      } finally rd.close()
      latest
    }
    // files read concurrently on a small bounded pool (each read is a
    // footer plus a few pages of IO); per-file winners merge by epoch
    val latest = new java.util.HashMap[Long, LookupWinner](hashes.length * 2)
    Parallelism.parRequests(files, LookupReadThreads)(readFile).foreach(
      _.forEach { (h, w) =>
        val prev = latest.get(h)
        if (prev == null || w.epoch > prev.epoch) latest.put(h, w)
      })
    latest.forEach { (h, w) =>
      if (w.scores != null) {
        val qis = askers(h)
        var j = 0
        while (j < qis.length) { emit(qis(j), h, w.scores(j)); j += 1 }
      }
    }
  }

  /** Concurrent file reads per scored point lookup. Measured on the
    * facade benchmark's serve workload (4 vCPUs): 4 readers cut the
    * 16-query batch door's phase 2 about 1.7x against one.
    */
  private val LookupReadThreads = 4

  private final case class LookupWinner(epoch: Long, scores: Array[Double])

  /** One projected store row, reused across the records of a read. */
  private final class LookupRow {
    var idHash = 0L
    var hasEpoch = false
    var epoch = 0L
    var hasDeleted = false
    var deleted = false
    var hasVec = false
    var vec = new Array[Double](64)
    var n = 0
    def push(v: Double): Unit = {
      if (n == vec.length) vec = java.util.Arrays.copyOf(vec, 2 * n)
      vec(n) = v
      n += 1
    }
  }

  private val LookupCols = Seq("id_hash", "epoch", "deleted", "vec")

  /** Projects a store file to [[LookupCols]] (those it carries — a
    * missing `deleted`/`vec` reads as null, as in a Spark scan) and
    * materializes records into one reused [[LookupRow]]. `vec` converts
    * generically over its LIST nesting, so any list encoding of float
    * or double elements reads the same.
    */
  private final class LookupReadSupport
      extends org.apache.parquet.hadoop.api.ReadSupport[LookupRow] {
    import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
    import org.apache.parquet.io.api._
    import org.apache.parquet.schema.{MessageType, Type}

    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val fs = ctx.getFileSchema
      new ReadSupport.ReadContext(new MessageType(fs.getName,
        LookupCols.filter(fs.containsField)
          .map(c => fs.getType(fs.getFieldIndex(c))): _*))
    }

    override def prepareForRead(conf: org.apache.hadoop.conf.Configuration,
        meta: java.util.Map[String, String], fileSchema: MessageType,
        rc: ReadSupport.ReadContext): RecordMaterializer[LookupRow] = {
      val row = new LookupRow
      val leaf: Converter = new PrimitiveConverter {
        override def addFloat(v: Float): Unit = row.push(v.toDouble)
        override def addDouble(v: Double): Unit = row.push(v)
      }
      def nested(t: Type, onStart: () => Unit): Converter =
        if (t.isPrimitive) leaf
        else {
          val g = t.asGroupType
          val kids = Array.tabulate(g.getFieldCount)(i =>
            nested(g.getType(i), () => ()))
          new GroupConverter {
            override def getConverter(i: Int): Converter = kids(i)
            override def start(): Unit = onStart()
            override def end(): Unit = ()
          }
        }
      val schema = rc.getRequestedSchema
      val kids: Array[Converter] = Array.tabulate(schema.getFieldCount) { i =>
        schema.getFieldName(i) match {
          case "id_hash" => new PrimitiveConverter {
            override def addLong(v: Long): Unit = row.idHash = v
          }
          case "epoch" => new PrimitiveConverter {
            override def addLong(v: Long): Unit = {
              row.hasEpoch = true; row.epoch = v
            }
          }
          case "deleted" => new PrimitiveConverter {
            override def addBoolean(v: Boolean): Unit = {
              row.hasDeleted = true; row.deleted = v
            }
          }
          case _ => nested(schema.getType(i), () => row.hasVec = true)
        }
      }
      val root = new GroupConverter {
        override def getConverter(i: Int): Converter = kids(i)
        override def start(): Unit = {
          row.hasEpoch = false; row.hasDeleted = false
          row.hasVec = false; row.n = 0
        }
        override def end(): Unit = ()
      }
      new RecordMaterializer[LookupRow] {
        override def getCurrentRecord: LookupRow = row
        override def getRootConverter: GroupConverter = root
      }
    }
  }

  /** Read the union of live segments (optionally only one tier). Each
    * segment is its own partitioned table root; all roots load through
    * ONE multi-path scan (see [[readPaths]] — one scan node however
    * many segments the catalog holds, no shuffle).
    */
  def readSegments(spark: SparkSession, baseDir: String,
      stableOnly: Option[Boolean] = None): DataFrame = {
    val descs = catalogDescriptors(spark, baseDir)
    val paths = stableOnly.fold(descs)(s => descs.filter(_.is_stable == s))
      .map(_.file_path)
    readPaths(spark, paths)
  }

  /** W11/W12: compaction — merge all delta segments, resolve
    * last-writer-wins per id_hash (epochs are unique), purge tombstones,
    * write one stable segment, and mark the inputs replaced. The merge is
    * one hash-aggregate on id_hash (map-side combine) + one partitioned
    * write — no sort, no window.
    */
  def compact(spark: SparkSession, baseDir: String,
      stableSegmentId: String,
      exactPurge: Boolean = false): Option[SegmentDescriptor] =
    withLease(spark, baseDir, s"compact-$stableSegmentId") {
      compactUnlocked(spark, baseDir, stableSegmentId, exactPurge)
    }

  /** Above this many range-surviving tombstones the exact purge's
    * existence probe switches from a driver-bounded `isin` pushdown
    * (parquet bloom + zone-map row-group skipping — the cheap path) to
    * a distributed left-semi join against the stable tier's live
    * id_hash column (one narrow-column scan; no driver materialization
    * however many tombstones a backlog holds).
    */
  private val ExactPurgeProbeBound = 10000

  private def compactUnlocked(spark: SparkSession, baseDir: String,
      stableSegmentId: String,
      exactPurge: Boolean = false): Option[SegmentDescriptor] = {
    val active = catalogDescriptors(spark, baseDir)
    val deltaDescs = active.filter(!_.is_stable)
    if (deltaDescs.isEmpty) return None // nothing to compact (idempotent)
    // a crash-replay rerun reuses the torn attempt's stable id and
    // OVERWRITES its data dir — that segment can't mask anything after
    // this write, so it contributes no tombstone-retention range
    val stableDescs = active.filter(d =>
      d.is_stable && d.segment_id != stableSegmentId)
    val deltas = readPaths(spark, deltaDescs.map(_.file_path))
    val latest = graft.operators.Lww.latestBy(deltas, "id_hash", "epoch")
    // W12 tombstone purge is only safe when no OLDER tier can still
    // hold the masked row. This is a MINOR (delta-tier) compaction, so
    // a tombstone survives into the output whenever any stable
    // segment's id_hash range could contain its target — dropping it
    // would RESURRECT the stable row at the next tiered read (found by
    // the maintain() policy test: stable of gen 1, delete, compact of
    // gen 2 brought the deleted rows back). Tombstones outside every
    // stable range have nothing left to mask and drop now; retained
    // ones are purged by the next full rewrite (rebuildLayout). With no
    // stable tier this IS a full compaction and every tombstone drops.
    //
    // KNOWN COST (disclosed, conservative direction): with uniformly
    // hashed ids a stable segment's [min,max] range spans nearly the
    // whole Long space after a few rows, so in practice every tombstone
    // is retained until a full rewrite — standard LSM delete behavior
    // (only bottom-level compaction purges). The periodic rebuild
    // (maintain()'s rebuild_interval_hours / layout triggers) bounds
    // the accumulation. `exactPurge` (config
    // `segment.exact_tombstone_purge`, default off) buys the precise
    // per-tombstone existence probe below at the price of one extra
    // probe scan per minor compaction.
    val mayMaskStable: Column = stableDescs
      .map(d => col("id_hash").between(lit(d.min_id_hash),
        lit(d.max_id_hash)))
      .reduceOption(_ || _).getOrElse(lit(false))
    // EXACT purge (opt-in, `segment.exact_tombstone_purge`): replace
    // the range test with a per-tombstone EXISTENCE probe — a tombstone
    // survives only when the stable tier actually holds a LIVE row with
    // its id_hash (retaining on any-row-present would be wrong only in
    // its other direction: if every stable row for the hash is itself a
    // tombstone, LWW over what remains already resolves to deleted, so
    // the delta tombstone is dead weight). Probe cost, by tombstone
    // count: ≤ ExactPurgeProbeBound → one `isin`-pushed scan over the
    // range-intersecting stable segments (parquet id_hash bloom +
    // zone-maps skip row groups — the writeSegment layout exists for
    // exactly this probe); above it → one distributed left-semi join
    // against the stable tier's live id_hash column. Both return the
    // same set; the LWW live view is invariant either way (model
    // property runs both modes).
    val resolved =
      if (!exactPurge || stableDescs.isEmpty)
        latest.filter(!col("deleted") || mayMaskStable)
      else {
        val live = latest.filter(!col("deleted"))
        val tombs = latest.filter(col("deleted") && mayMaskStable)
        // the probe decision needs "≤ bound tombstones?" plus, on the
        // cheap path, the hashes themselves — ONE bounded collect
        // answers both (limit(bound+1) stops scanning at the bound,
        // where a count() would scan the whole delta tier; and the
        // ≤-bound branch reuses the rows instead of a second job)
        val headHashes = tombs.select(col("id_hash"))
          .limit(ExactPurgeProbeBound + 1)
          .collect().map(_.getLong(0)).toIndexedSeq
        val kept =
          if (headHashes.isEmpty) tombs
          else if (headHashes.length <= ExactPurgeProbeBound) {
            val hashes = headHashes
            val probePaths = stableDescs.filter(d =>
                hashes.exists(h => d.min_id_hash <= h &&
                  h <= d.max_id_hash))
              .map(_.file_path)
            val present =
              if (probePaths.isEmpty) Set.empty[Long]
              else readPaths(spark, probePaths)
                .filter(col("id_hash").isin(hashes: _*) &&
                  !col("deleted"))
                .select(col("id_hash")).distinct()
                .collect().map(_.getLong(0)).toSet
            if (present.isEmpty) tombs.limit(0)
            else tombs.filter(col("id_hash").isin(present.toSeq: _*))
          } else {
            val stableLive =
              readPaths(spark, stableDescs.map(_.file_path))
                .filter(!col("deleted")).select(col("id_hash"))
            tombs.join(stableLive, Seq("id_hash"), "left_semi")
          }
        live.unionByName(kept)
      }
    // bloom hint from the inputs: the output holds at most their rows,
    // over at most the lists their files sit in (a driver-side listing
    // the read above already made)
    val inputLists = deltas.inputFiles.iterator
      .map(f => new HPath(f).getParent.getName)
      .filter(_.startsWith("centroid_id=")).toSet.size
    val desc = writeSegment(resolved, baseDir, stableSegmentId,
      isStable = true,
      expectedNdvPerFile = ndvPerList(deltaDescs.map(_.num_vectors).sum,
        inputLists),
      appendDesc = false)
    // publish the stable segment AND retire its inputs in one atomic
    // append: a crash before this line leaves only the old world (the
    // orphan data directory is invisible without a descriptor), a crash
    // after it only the new — never both generations active
    appendCatalog(spark, baseDir, desc +: deltaDescs.map(d =>
      d.copy(replaced_by = Some(stableSegmentId),
        created_at = new java.sql.Timestamp(System.currentTimeMillis()))))
    Some(desc)
  }

  // ---- maintenance-writer lease (A1) -------------------------------
  //
  // The catalog's append protocol is coordination-free for APPENDS
  // (atomic write-then-rename, latest-row-wins), but the three
  // maintenance operations (compact / rebuildLayout / checkpointCatalog)
  // each do a read-fold-append cycle: two of them interleaving could
  // publish a fold of a stale read (e.g. a checkpoint resurrecting
  // segments a concurrent compact just retired). The reference runs
  // these from ONE background thread (config.h:96-99); across drivers
  // that discipline becomes this lease — a lock file created with
  // fail-if-exists whose TTL lets a crashed holder's lease be broken.

  /** A maintenance lease could not be acquired: another maintenance job
    * holds it and its TTL has not lapsed.
    */
  final class CatalogLeaseHeld(dir: String, holder: String, expiresAt: Long)
    extends RuntimeException(
      s"catalog maintenance lease at $dir held by '$holder' until " +
        s"$expiresAt — one maintenance writer at a time (run compaction/" +
        "rebuild/checkpoint from a single job, as the reference's " +
        "background thread does)")

  private def leasePath(baseDir: String) =
    new HPath(s"$baseDir/$CatalogDir/.maintenance-lease")

  /** Acquire the maintenance lease (fail-if-exists create). A lease
    * whose TTL has lapsed is broken and re-acquired once — a crashed
    * holder must not wedge maintenance forever.
    */
  private[segments] def acquireLease(spark: SparkSession, baseDir: String,
      holder: String, ttlMs: Long = 600000L): Unit = {
    val fs = hfs(spark, baseDir)
    val p = leasePath(baseDir)
    fs.mkdirs(p.getParent)
    def tryCreate(): Boolean =
      try {
        val out = fs.create(p, false) // fail-if-exists
        try out.write(s"$holder\t${System.currentTimeMillis() + ttlMs}"
          .getBytes(StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (tryCreate()) return
    // held: read holder/expiry; break only a LAPSED lease, then retry
    val (h, exp) =
      try {
        val in = fs.open(p)
        val line = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().next() finally in.close()
        val f = line.split("\t", -1)
        (f(0), f(1).toLong)
      } catch { case _: Exception => ("unknown", Long.MaxValue) }
    if (exp < System.currentTimeMillis()) {
      fs.delete(p, false)
      if (tryCreate()) return
    }
    throw new CatalogLeaseHeld(baseDir, h, exp)
  }

  private[segments] def releaseLease(spark: SparkSession,
      baseDir: String): Unit = {
    val fs = hfs(spark, baseDir)
    fs.delete(leasePath(baseDir), false)
  }

  /** Run `body` under the maintenance lease. */
  private def withLease[A](spark: SparkSession, baseDir: String,
      holder: String)(body: => A): A = {
    acquireLease(spark, baseDir, holder)
    try body finally releaseLease(spark, baseDir)
  }

  /** Test seam: invoked between a checkpoint's fold (read of the file
    * list) and its append — the window a concurrent flush append can
    * land in. Production: no-op.
    */
  private[segments] var checkpointInterleaveHook: () => Unit = () => ()

  /** A1 catalog checkpoint: fold the append-only manifest history into a
    * single file and drop the older files — the catalog's own compaction
    * (one tiny file per flush/compact otherwise accumulates forever).
    *
    * Safe against CONCURRENT FLUSH APPENDS by construction: the
    * checkpoint file's name is derived from the LAST FOLDED file
    * (`<lastFolded>x-ckpt.tsv`, which sorts immediately after it), so
    * any append that lands after the fold's file-list read — whether a
    * brand-new segment or an update to a folded segment — sorts after
    * the checkpoint and wins latest-row-wins on read. Naming the
    * checkpoint "now" instead would let a stale fold shadow such an
    * update. A crash between checkpoint write and old-file deletion
    * leaves duplicate rows that latest-row-wins collapses on read.
    *
    * Safe against concurrent MAINTENANCE (compact/rebuild, which also
    * read-fold-append) via the maintenance lease — see [[acquireLease]].
    */
  def checkpointCatalog(spark: SparkSession, baseDir: String): Unit =
    withLease(spark, baseDir, "checkpoint") {
      val dir = s"$baseDir/$CatalogDir"
      val fs = hfs(spark, dir)
      val p = new HPath(dir)
      if (fs.exists(p)) {
        val files = fs.listStatus(p).map(_.getPath)
          .filter(_.getName.startsWith("desc-")).sortBy(_.getName).toSeq
        if (files.length > 1) {
          val latest = scala.collection.mutable.LinkedHashMap
            .empty[String, SegmentDescriptor]
          files.foreach { f =>
            val in = fs.open(f)
            try scala.io.Source.fromInputStream(in, "UTF-8")
              .getLines().filter(_.nonEmpty)
              .foreach { line =>
                val d = decode(line); latest(d.segment_id) = d
              }
            finally in.close()
          }
          checkpointInterleaveHook()
          val name =
            files.last.getName.stripSuffix(".tsv") + "x-ckpt.tsv"
          writeLinesNamed(spark, dir, name,
            latest.values.map(encode).toSeq)
          files.foreach(f => fs.delete(f, false))
        }
      }
    }

  /** B1 periodic rebuild (reference retrains global centroids every 24 h,
    * config.h:96-99): re-cluster the store's latest-live rows under NEW
    * centroids into one new stable generation and mark every prior active
    * segment replaced. `reassign` computes the new `centroid_id` (pass
    * `Ivf.assign(_, newCentroids, vecCol = "vec")` — the map-side codegen
    * argmin). One pass over the store: tiered scan → narrow LWW →
    * tombstone purge → reassign → centroid-partitioned stable write. No
    * driver-side data, no sort; at 100 TB this is the background job that
    * keeps probe pruning aligned with drifting data.
    * `expectedNdvPerFile` is [[writeSegment]]'s bloom hint: a caller
    * that knows the live row count and the new layout's list count
    * passes [[ndvPerList]] of them.
    */
  def rebuildLayout(spark: SparkSession, baseDir: String,
      reassign: DataFrame => DataFrame,
      stableSegmentId: String,
      expectedNdvPerFile: Long = DefaultNdvPerFile)
      : Option[SegmentDescriptor] =
    withLease(spark, baseDir, s"rebuild-$stableSegmentId") {
      rebuildLayoutUnlocked(spark, baseDir, reassign, stableSegmentId,
        expectedNdvPerFile)
    }

  private def rebuildLayoutUnlocked(spark: SparkSession, baseDir: String,
      reassign: DataFrame => DataFrame, stableSegmentId: String,
      expectedNdvPerFile: Long): Option[SegmentDescriptor] = {
    val active = catalogDescriptors(spark, baseDir)
    if (active.isEmpty) return None
    val all = readSegments(spark, baseDir)
    val resolved = graft.operators.Lww.latestBy(all, "id_hash", "epoch")
      .filter(!col("deleted"))
    val relaid = reassign(resolved.drop("centroid_id"))
    val desc = writeSegment(relaid, baseDir, stableSegmentId,
      isStable = true, expectedNdvPerFile = expectedNdvPerFile,
      appendDesc = false)
    // single atomic append (see compact): rebuilt rows keep their
    // original (id_hash, epoch), so if BOTH generations were ever active
    // the LWW max-epoch join would keep both copies — duplicate
    // candidates in every tiered read. The one-append publish makes that
    // state unreachable rather than merely unlikely.
    appendCatalog(spark, baseDir, desc +: active.map(d =>
      d.copy(replaced_by = Some(stableSegmentId),
        created_at = new java.sql.Timestamp(System.currentTimeMillis()))))
    Some(desc)
  }

  /** Remove a segment tree from disk (test helper / GC). */
  def deleteDir(path: String): Unit = {
    // the deletion primitive enforces the cache invariant itself —
    // any flow that deletes and re-creates a previously-listed path
    // must not serve stale listings or stale blooms (ADVICE r14: by
    // convention at the call sites is not an invariant)
    invalidateListings(path)
    val p = Paths.get(path)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }
}
