package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One manifest GENERATION of a persisted index's cells table: the exact
  * parquet files (grouped by physical root directory) that make up the
  * table, plus the files this generation SUPERSEDED when it was
  * published (`gc` — deleted one generation later, see
  * [[CellsLayout.publish]]).
  *
  * The manifest says which FILES are current — the move that makes every
  * cells mutation (and the save itself, generation 1) an atomic publish
  * (write new files beside the live ones, swap one tiny pointer) instead
  * of an in-place directory rewrite. Reference anchor: the reference
  * store's atomic checkpoint publish + archive rules (GraphDB/Storage.hs
  * and Rules.hs) — the manifest is the cells table's commit marker
  * exactly as `_meta.json` is the graph checkpoint's.
  *
  * Entries and gc lists are kept root-sorted/file-sorted so a manifest's
  * rendered bytes are a deterministic function of its content.
  */
private[pipeline] final case class CellsManifest(
    gen: Int,
    entries: Seq[(String, Seq[String])],
    gc: Seq[(String, Seq[String])]) {
  def fileCount: Int = entries.iterator.map(_._2.size).sum
  def name: String = CellsLayout.manifestName(gen)
  /** A FRESH logical plan over exactly this generation's files on each
    * call, so a serve that scans the table twice (codes + float fetch)
    * reads ONE consistent generation even if a maintainer publishes
    * mid-call. */
  def df(spark: SparkSession): DataFrame = CellsLayout.manifestDF(spark, this)
  /** Distinct partition-value tuples present (parsed from the relative
    * paths) — the live cell count, O(manifest) with zero FS calls. */
  def cellCount: Int =
    entries.iterator.flatMap { case (_, fs) =>
      fs.iterator.map(CellsLayout.cellValuesOf)
    }.toSet.size
}

/** The cells-table storage layout of the persisted ANN index
  * ([[Similarity.saveTwoLevelIndex]] and its maintenance ops): pointer
  * resolution, manifest IO, the stage-and-move protocol mutations
  * publish through, and the deferred (one-generation grace) reclamation
  * of superseded files.
  *
  * CONCURRENCY CONTRACT — read this before calling any mutation.
  * Readers are always safe: a serve resolves the pointer once and reads
  * either the old generation or the new one, and the files a live
  * manifest references survive at least one further maintenance
  * generation before deletion (so a reader that resolved just before a
  * publish still finds its files). MUTATIONS ARE SINGLE-MAINTAINER:
  * append / remove / compact / vacuum on the same index dir must be
  * serialized by the caller (one maintenance process per index — the
  * reference's single-writer store posture, /root/reference/library/
  * GraphDB/Persistent.hs:108-117). Two concurrent mutators race the
  * pointer swap and the loser's rows silently vanish from the published
  * view. Pointer-swap atomicity (FileContext rename OVERWRITE) holds on
  * local FS and HDFS; object stores without atomic rename (S3A) can
  * expose a missing/torn pointer mid-publish — run maintenance against
  * a rename-atomic filesystem.
  */
private[pipeline] object CellsLayout {

  def manifestName(gen: Int): String = s"_manifest_g$gen"

  private val ManifestFileRe = "_manifest_g(\\d+)".r

  private def hadoopFs(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A root's one spelling, under which it is recorded and compared:
    * qualified against its filesystem, with the scheme and authority left
    * out when they are the default filesystem's. So `/x/cells` and
    * `file:/x/cells` name one root on a local default filesystem, while
    * a root on another filesystem keeps its full URI.
    */
  def canonicalRoot(spark: SparkSession, path: String): String = {
    val (fs, p) = hadoopFs(spark, path)
    val q = fs.makeQualified(p).toUri
    val default = org.apache.hadoop.fs.FileSystem.getDefaultUri(
      spark.sparkContext.hadoopConfiguration)
    if (q.getScheme == default.getScheme &&
        java.util.Objects.equals(q.getAuthority, default.getAuthority)) q.getPath
    else q.toString
  }

  // ---------------------------------------------------------- pointer IO

  /** Raw `_cells` pointer content, `manifest:_manifest_gN` — every save
    * publishes generation 1, so a dir without a pointer holds no index.
    */
  def pointer(spark: SparkSession, dir: String): String = {
    val (fs, p) = hadoopFs(spark, s"$dir/_cells")
    require(fs.exists(p), s"no persisted index at $dir (no cells pointer)")
    val in = fs.open(p)
    val s =
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toString("UTF-8").trim
      } finally in.close()
    require(s.matches("manifest:_manifest_g\\d+"),
      s"corrupt cells-generation pointer '$s' in $dir")
    s
  }

  /** Atomically repoint the index: write beside, one FileContext rename
    * with OVERWRITE — atomic on local FS and HDFS (see the concurrency
    * contract above for object stores), so a reader sees either the old
    * pointer or the new, never a torn one.
    */
  def writePointer(spark: SparkSession, dir: String, content: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, dst0) = hadoopFs(spark, s"$dir/_cells")
    val dst = fs.makeQualified(dst0)
    val tmp = fs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$dir/_cells.tmp"))
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  // --------------------------------------------------------- manifest IO

  /** Line-based render (the WAL-tag-file discipline — no JSON escaping
    * surface): header, generation, then root/file groups for entries and
    * gc. Paths must be newline-free (enforced at write).
    */
  private[pipeline] def render(m: CellsManifest): String = {
    val sb = new StringBuilder
    sb.append("graft-cells-manifest 1\n")
    sb.append(s"gen ${m.gen}\n")
    def group(tagRoot: String, tagFile: String,
        es: Seq[(String, Seq[String])]): Unit =
      es.sortBy(_._1).foreach { case (root, files) =>
        require(!root.contains("\n") && files.forall(!_.contains("\n")),
          s"newline in manifest path under $root")
        sb.append(s"$tagRoot $root\n")
        files.sorted.foreach(f => sb.append(s"$tagFile $f\n"))
      }
    group("root", "f", m.entries)
    group("gcroot", "gcf", m.gc)
    sb.result()
  }

  private[pipeline] def parse(s: String): CellsManifest = {
    val lines = s.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
    require(lines.headOption.contains("graft-cells-manifest 1"),
      s"unrecognized cells manifest header: ${lines.headOption.orNull}")
    var gen = -1
    val entries = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[String]]
    val gc = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[String]]
    var curRoot: String = null
    var curGc = false
    lines.drop(1).foreach { l =>
      val sp = l.indexOf(' ')
      require(sp > 0, s"malformed manifest line: $l")
      val (tag, v) = (l.substring(0, sp), l.substring(sp + 1))
      tag match {
        case "gen" => gen = v.toInt
        case "root" =>
          curRoot = v; curGc = false
          entries.getOrElseUpdate(curRoot, Vector.empty)
        case "gcroot" =>
          curRoot = v; curGc = true
          gc.getOrElseUpdate(curRoot, Vector.empty)
        case "f" | "gcf" =>
          require(curRoot != null && curGc == (tag == "gcf"),
            s"manifest file line outside its root group: $l")
          val m = if (curGc) gc else entries
          m(curRoot) = m(curRoot) :+ v
        case other => throw new IllegalArgumentException(
          s"unknown manifest tag '$other'")
      }
    }
    require(gen > 0, "cells manifest missing generation")
    CellsManifest(gen, entries.toSeq, gc.toSeq)
  }

  def readManifest(spark: SparkSession, dir: String,
      name: String): CellsManifest = {
    val (fs, p) = hadoopFs(spark, s"$dir/$name")
    val in = fs.open(p)
    val s =
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toString("UTF-8")
      } finally in.close()
    parse(s)
  }

  /** Write a manifest file atomically (tmp + FileContext rename — the
    * same staged-publish rule as the pointer; the manifest itself is
    * immutable once named, so OVERWRITE only matters for a re-run after
    * a crash between write and pointer swap).
    */
  private def writeManifest(spark: SparkSession, dir: String,
      m: CellsManifest): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, dst0) = hadoopFs(spark, s"$dir/${m.name}")
    val dst = fs.makeQualified(dst0)
    val tmp = fs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$dir/${m.name}.tmp"))
    val out = fs.create(tmp, true)
    try out.write(render(m).getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  // ----------------------------------------------------------- resolve

  /** The index's CURRENT generation — every reader and maintainer
    * resolves through this ONCE per call. */
  def resolve(spark: SparkSession, dir: String): CellsManifest =
    readManifest(spark, dir, pointer(spark, dir).stripPrefix("manifest:"))

  /** The DataFrame over a manifest generation's exact files, as ONE
    * partitioned relation over every root
    * ([[org.apache.spark.sql.GraftShim.partitionedParquetDF]] — no Spark
    * job), so the probe join's dynamic partition pruning sees one
    * partitioned scan whether the files live under one root (every
    * non-cloned index) or several (a mutated clone before its first
    * compaction localizes it).
    */
  def manifestDF(spark: SparkSession, m: CellsManifest): DataFrame = {
    val es = m.entries.filter(_._2.nonEmpty)
    require(es.nonEmpty,
      "cells manifest references no files — the index holds zero vectors " +
        "(removed in full?); rebuild it before serving")
    val partCols = splitCell(es.head._2.head).map(_._1)
    val dirVals = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[Int]]
    val files = Vector.newBuilder[String]
    es.foreach { case (root, fs) =>
      fs.foreach { f =>
        val kvs = splitCell(f)
        require(kvs.map(_._1) == partCols,
          s"inconsistent partition columns in manifest: $f vs $partCols")
        val d = s"$root/${f.substring(0, f.lastIndexOf('/'))}"
        dirVals.getOrElseUpdate(d, kvs.map(_._2))
        files += s"$root/$f"
      }
    }
    org.apache.spark.sql.GraftShim.partitionedParquetDF(
      spark, partCols, dirVals.toSeq.map { case (d, v) => (v, d) },
      files.result())
  }

  /** `_c1=3/_c2=7/part-x.parquet` → Seq(("_c1", 3), ("_c2", 7)). */
  private def splitCell(rel: String): Seq[(String, Int)] = {
    val segs = rel.split('/')
    require(segs.length >= 2, s"manifest file path has no partition dirs: $rel")
    segs.init.toSeq.map { s =>
      val i = s.indexOf('=')
      require(i > 0, s"non-partition segment '$s' in manifest path $rel")
      (s.substring(0, i), s.substring(i + 1).toInt)
    }
  }

  /** The partition-value tuple of a manifest file path. */
  def cellValuesOf(rel: String): Vector[Int] =
    splitCell(rel).map(_._2).toVector

  // ------------------------------------------------------------ listing

  /** Relative paths of every `.parquet` under `root`, sorted. */
  def listRelParquet(spark: SparkSession, root: String): Seq[String] = {
    val (fs, p) = hadoopFs(spark, root)
    if (!fs.exists(p)) return Seq.empty
    val rootQ = fs.makeQualified(p).toString
    val out = Vector.newBuilder[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val s = st.getPath.toString
      if (st.isFile && s.endsWith(".parquet"))
        out += s.stripPrefix(rootQ).stripPrefix("/")
    }
    out.result().sorted
  }

  /** globStatus returns NULL (not empty) when the glob's parent is
    * missing — normalize. */
  private def glob(fs: org.apache.hadoop.fs.FileSystem,
      pattern: String): Seq[org.apache.hadoop.fs.FileStatus] =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(pattern)))
      .map(_.toSeq).getOrElse(Seq.empty)

  /** The next manifest generation number for `dir` — strictly above
    * every existing manifest file and every `cells_gN` root a compaction
    * wrote, so a crashed publish's orphan manifest or rewrite is never
    * re-used. One glob listing per kind.
    */
  def nextGen(spark: SparkSession, dir: String): Int = {
    val (fs, _) = hadoopFs(spark, dir)
    val manifests = glob(fs, s"$dir/_manifest_g*")
      .flatMap(st => st.getPath.getName match {
        case ManifestFileRe(n) => Some(n.toInt)
        case _ => None
      })
    val compacted = glob(fs, s"$dir/cells_g*")
      .flatMap(st =>
        "cells_g(\\d+)".r.findFirstMatchIn(st.getPath.getName)
          .map(_.group(1).toInt))
    (manifests ++ compacted :+ 1).max + 1
  }

  // ------------------------------------------------------- stage & move

  /** Move every parquet file under the staged partitioned write `staging`
    * into the same partition dirs under `targetRoot`, preserving the
    * task-UUID file names (collisions get a numeric suffix — never
    * observed, UUID names). Returns the moved files' paths relative to
    * `targetRoot`. Renames are metadata ops on local FS/HDFS — one per
    * file, and mutations repartition by the partition columns first, so
    * the count is one per touched cell.
    */
  def moveInto(spark: SparkSession, staging: String,
      targetRoot: String): Seq[String] = {
    val rels = listRelParquet(spark, staging)
    if (rels.isEmpty) return Seq.empty
    val (fs, _) = hadoopFs(spark, targetRoot)
    rels.map { rel =>
      val src = new org.apache.hadoop.fs.Path(s"$staging/$rel")
      val dstDir = new org.apache.hadoop.fs.Path(
        s"$targetRoot/${rel.substring(0, rel.lastIndexOf('/'))}")
      fs.mkdirs(dstDir)
      var name = src.getName
      var dst = new org.apache.hadoop.fs.Path(dstDir, name)
      var i = 0
      while (fs.exists(dst)) {
        i += 1
        name = s"r$i-${src.getName}"
        dst = new org.apache.hadoop.fs.Path(dstDir, name)
      }
      require(fs.rename(src, dst), s"failed to move $src to $dst")
      s"${rel.substring(0, rel.lastIndexOf('/'))}/$name"
    }
  }

  /** Merge entry groups sharing a root (sorted, distinct), whatever
    * spelling each group was recorded under. */
  def mergeRoots(spark: SparkSession,
      es: Seq[(String, Seq[String])]): Seq[(String, Seq[String])] =
    es.map { case (r, fs) => canonicalRoot(spark, r) -> fs }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (r, gs) => r -> gs.flatMap(_._2).distinct.sorted }
      .filter(_._2.nonEmpty)

  // ------------------------------------------------------------ publish

  /** Publish manifest `m` as the index's current generation: write the
    * manifest file, atomically swap the pointer, then run the DEFERRED
    * reclamation — the files the PREVIOUS generation superseded (its
    * `gc` list) have now been unreferenced for one full maintenance
    * generation and are deleted, along with manifest files two or more
    * generations old. A reader that resolved the pointer just before
    * this publish therefore still finds every file its manifest names;
    * only a reader that sleeps across TWO maintenance publishes can lose
    * its files — the documented grace window. Files under roots OUTSIDE
    * the index dir (a clone's referenced source files) are never
    * deleted — a clone must never reach into the index it was cloned
    * from (and conversely, maintenance on the SOURCE does not know about
    * clones: a clone is a point-in-time snapshot, invalidated if the
    * source is mutated past its grace window — compact the clone to
    * localize it first if the source stays live; see
    * [[Similarity.cloneIndex]]).
    */
  def publish(spark: SparkSession, dir: String, m: CellsManifest,
      prev: Option[CellsManifest]): Unit = {
    writeManifest(spark, dir, m)
    writePointer(spark, dir, s"manifest:${m.name}")
    prev.foreach { p =>
      gcFiles(spark, dir, p.gc)
      // manifests older than the previous generation are unreachable
      // (the pointer swap is atomic and `prev` survives for readers that
      // resolved before this publish)
      val (fs, _) = hadoopFs(spark, dir)
      glob(fs, s"$dir/_manifest_g*").foreach { st =>
        st.getPath.getName match {
          case ManifestFileRe(n) if n.toInt < p.gen =>
            scala.util.Try(fs.delete(st.getPath, false))
          case _ =>
        }
      }
    }
  }

  /** Delete the given superseded files (roots under `dir` only — see
    * [[publish]]), then best-effort reap partition dirs and roots they
    * emptied. */
  private def gcFiles(spark: SparkSession, dir: String,
      gc: Seq[(String, Seq[String])]): Unit = {
    val (fs, _) = hadoopFs(spark, dir)
    val home = canonicalRoot(spark, dir)
    gc.foreach { case (recorded, files) =>
      val root = canonicalRoot(spark, recorded)
      if (root == home || root.startsWith(home + "/")) {
        val dirs = scala.collection.mutable.LinkedHashSet.empty[String]
        files.foreach { f =>
          scala.util.Try(fs.delete(
            new org.apache.hadoop.fs.Path(s"$root/$f"), false))
          dirs += s"$root/${f.substring(0, f.lastIndexOf('/'))}"
        }
        // reap emptied partition dirs bottom-up, then the root itself
        dirs.toSeq.sortBy(-_.length).foreach { d =>
          var p = new org.apache.hadoop.fs.Path(d)
          var done = false
          while (!done && p.toString.length >= root.length && p.toString != home) {
            val empty = scala.util.Try(
              !fs.listFiles(p, true).hasNext).getOrElse(false)
            if (empty) { scala.util.Try(fs.delete(p, true)); p = p.getParent }
            else done = true
          }
        }
      }
    }
  }
}
