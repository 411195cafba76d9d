package graft.model

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Qualified table name. The reference keys its catalog by (schema, name) but
  * resolves SQL by bare name (reference: src/database.rs:10-25); we keep the
  * same behavior: `handle` is the SQL-visible identifier.
  */
final case class TableName(schema: String, name: String) {
  def handle: String = name
  override def toString: String = s"$schema.$name"
}

/** Storage descriptor: root directory, file format and compression codec
  * (reference: src/storage.rs:5-36). Formats map onto Spark writers:
  * built-ins (`parquet`, `csv`, ...) plus graft's own `arrowipc`
  * FileFormat for the reference's `Format::Ipc` persistence
  * (zstd-compressed `.arrow` stream files, pyarrow-readable). Parquet
  * stays the default — strictly better for a lake layout (splittable,
  * indexed footers, column stats).
  */
final case class StorageSpec(
    root: String,
    format: String = "parquet",
    compression: String = "snappy")

/** Identity of one partition×bucket cell of a dataset.
  *
  * `partValues` is SORTED by column name so that the path layout is
  * deterministic (the reference iterates a HashMap and gets nondeterministic
  * multi-column paths — src/dataset.rs:150-156; we deliberately fix that,
  * see SURVEY.md §7.4.4).
  */
final case class PartKey(partValues: List[(String, String)], bucketNr: Option[Int]) {
  /** Hive-style relative path, e.g. `l_returnflag=R/bucket=3`. Naming matches
    * what Spark's own `partitionBy` writer produces (unpadded bucket ids,
    * Hive default-partition marker for nulls) so the one-pass dataset save
    * and the incremental per-part save land in the SAME directories.
    */
  def relPath: String = {
    val segs = partValues.map { case (k, v) => s"$k=${PartKey.escape(v)}" } ++
      bucketNr.map(b => s"bucket=$b").toList
    segs.mkString("/")
  }

  /** This cell's value of partition column `c` (null when absent or NULL). */
  def valueOf(c: String): String = partValues.collectFirst { case (k, v) if k == c => v }.orNull
}

object PartKey {
  /** Hive's spelling for a null partition value — shared with Spark's writer. */
  val NullMarker = "__HIVE_DEFAULT_PARTITION__"

  /** Spark's own partition-path escaping (percent-encoding of `/`, `:`,
    * `%`, `=`, ... — `ExternalCatalogUtils.escapePathName`). Using the
    * writer's exact spelling is what makes the per-part save (relPath) and
    * the dynamic `partitionBy` writer land in the SAME directory for ANY
    * partition value — a home-grown replacement scheme diverges on
    * escapable values and the mismatch surfaces only after files are on
    * disk.
    */
  def escape(v: String): String =
    if (v == null) NullMarker
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  /** Inverse of [[escape]] for directory-name parsing on load. */
  def unescape(dir: String): String =
    if (dir == NullMarker) null
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(dir)
}

/** Dataset manifest, persisted as `_manifest.json` at the dataset root
  * (reference: src/dataset.rs:182-189, 330-353). Parts are NOT listed in the
  * manifest — they are rediscovered by walking the directory tree, exactly
  * like the reference (src/dataset.rs:355-409).
  */
final case class Manifest(
    partitions: List[String],
    buckets: List[String],
    nBuckets: Int,
    storage: StorageSpec,
    /** Spark DDL of the table schema. Parquet is self-describing, but
      * schema-light formats (csv/json) need it to load with correct types.
      */
    schemaDdl: Option[String] = None,
    /** Per-part zone maps (engine statistics, serialized): part relPath →
      * column → (min, max) as strings; both bounds absent = column holds no
      * non-null values. Parts missing from the map load without stats
      * (pruning fails open). Old manifests without the field load the same
      * way.
      */
    partStats: Map[String, Map[String, (Option[String], Option[String])]] = Map.empty,
    /** Columns carrying per-part key Bloom filters (engine membership
      * statistics, opt-in at table creation). */
    bloomCols: List[String] = Nil,
    /** Per-part key blooms: part relPath → column → base64 plane bytes.
      * Parts missing from the map load without membership stats (pruning
      * fails open). Old manifests without the field load the same way.
      */
    partBlooms: Map[String, Map[String, String]] = Map.empty,
    /** EXACT per-part row counts, written only for parts whose statistics
      * were tight at save time (`LakePart.statsTight`). Presence is the
      * persisted tightness vouch: a loaded part found here restores its
      * counter AND its stats-exactness, so metadata-only aggregate answers
      * (count/min/max from the catalog, zero file scans) survive a
      * save/load cycle. Parts absent from the map load with an unknown
      * counter (-1, recounted on demand) and untight stats — fail open to
      * a real scan, never to a wrong metadata answer.
      */
    partRows: Map[String, Long] = Map.empty,
    /** EXACT per-part column sums (decimal string + non-null count),
      * written only for tight parts — the metadata-SUM half of the
      * tightness vouch. A part restores its sums only when it ALSO appears
      * in [[partRows]]; absent or undecodable entries degrade to unknown
      * (metadata-sum answers fail open to a real scan). Old manifests
      * without the field load the same way.
      */
    partSums: Map[String, Map[String, (String, Long)]] = Map.empty,
    /** Columns carrying per-part HLL distinct sketches (opt-in at table
      * creation, like [[bloomCols]]). */
    sketchCols: List[String] = Nil,
    /** Per-part HLL sketches (base64 bytes), written only for tight parts —
      * the approx-distinct member of the tightness vouch, restored under
      * the same [[partRows]] gate as [[partSums]]. Old manifests without
      * the field load the same way (fail open to a scan).
      */
    partSketches: Map[String, Map[String, String]] = Map.empty,
    /** Columns carrying per-part GK quantile summaries (opt-in at table
      * creation, like [[sketchCols]]). */
    quantileCols: List[String] = Nil,
    /** Per-part GK quantile summaries (base64 bytes), written only for
      * tight parts — the approx-quantile member of the tightness vouch,
      * restored under the same [[partRows]] gate. Old manifests without
      * the field load the same way (fail open to a scan).
      */
    partQuants: Map[String, Map[String, String]] = Map.empty,
    /** Columns carrying per-part Misra–Gries frequent-items sketches
      * (opt-in at table creation, like [[sketchCols]]). */
    freqCols: List[String] = Nil,
    /** Per-part MG frequent-items sketches (base64 bytes), written only for
      * tight parts — the top-values member of the tightness vouch, restored
      * under the same [[partRows]] gate. Old manifests without the field
      * load the same way (fail open to a scan).
      */
    partFreqs: Map[String, Map[String, String]] = Map.empty,
    /** Table CHECK constraints: name → SQL boolean expression. Enforced on
      * every ingest (insert/upsert/update reject violating batches loudly);
      * persisted so a reloaded table keeps enforcing them. Old manifests
      * without the field load unconstrained.
      */
    checks: Map[String, String] = Map.empty,
    /** Monotonic commit counter for optimistic concurrency: every manifest
      * commit increments it, and a writer whose expected version no longer
      * matches the on-disk one aborts instead of silently clobbering a
      * concurrent writer's commit (the lakehouse optimistic-commit
      * protocol; a conditional put on an object store). Old manifests load
      * as version 0.
      */
    version: Long = 0L)

object Manifest {
  val FileName = "_manifest.json"
  /** Pre-underscore layouts (and the reference's own naming) still load. */
  val LegacyFileName = "manifest.json"

  private val om = new ObjectMapper()

  // Per-root commit serialization for same-process writers. On an object
  // store the conditional write below is a conditional put (ETag/if-match,
  // generation preconditions); on a local filesystem that primitive does
  // not exist, so same-JVM writers serialize on this lock and the check
  // stays best-effort TOCTOU across PROCESSES — the same boundary the
  // optimistic-concurrency doc in LakeDataset states.
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Conditional manifest write: commit `m` only if the root's current
    * version still equals `expected` (-1 = no manifest yet). Returns false
    * on a lost race — the caller re-reads and re-merges. Atomic for
    * writers in this JVM; conditional-put semantics elsewhere.
    */
  def writeIfVersion(m: Manifest, root: String, expected: Long): Boolean = {
    val lock = commitLocks.computeIfAbsent(root, _ => new Object)
    lock.synchronized {
      val cur = try read(root).version catch { case _: Exception => -1L }
      if (cur != expected) false
      else { write(m, root); true }
    }
  }

  def write(m: Manifest, root: String): Unit = {
    val node: ObjectNode = om.createObjectNode()
    val parts = node.putArray("partitions")
    m.partitions.foreach(parts.add)
    val buckets = node.putArray("buckets")
    m.buckets.foreach(buckets.add)
    node.put("n_buckets", m.nBuckets)
    m.schemaDdl.foreach(node.put("schema", _))
    if (m.partStats.nonEmpty) {
      val stats = node.putObject("part_stats")
      m.partStats.foreach { case (rel, cols) =>
        val pn = stats.putObject(rel)
        cols.foreach { case (c, (mn, mx)) =>
          val cn = pn.putObject(c)
          mn.foreach(cn.put("min", _))
          mx.foreach(cn.put("max", _))
        }
      }
    }
    if (m.bloomCols.nonEmpty) {
      val bc = node.putArray("bloom_cols")
      m.bloomCols.foreach(bc.add)
    }
    if (m.partBlooms.nonEmpty) {
      val blooms = node.putObject("part_blooms")
      m.partBlooms.foreach { case (rel, cols) =>
        val pn = blooms.putObject(rel)
        cols.foreach { case (c, b64) => pn.put(c, b64) }
      }
    }
    if (m.partRows.nonEmpty) {
      val rowsN = node.putObject("part_rows")
      m.partRows.foreach { case (rel, n) => rowsN.put(rel, n) }
    }
    if (m.partSums.nonEmpty) {
      val sumsN = node.putObject("part_sums")
      m.partSums.foreach { case (rel, cols) =>
        val pn = sumsN.putObject(rel)
        cols.foreach { case (c, (s, n)) =>
          val cn = pn.putObject(c)
          cn.put("sum", s)
          cn.put("n", n)
        }
      }
    }
    if (m.sketchCols.nonEmpty) {
      val kc = node.putArray("sketch_cols")
      m.sketchCols.foreach(kc.add)
    }
    if (m.partSketches.nonEmpty) {
      val sk = node.putObject("part_sketches")
      m.partSketches.foreach { case (rel, cols) =>
        val pn = sk.putObject(rel)
        cols.foreach { case (c, b64) => pn.put(c, b64) }
      }
    }
    if (m.quantileCols.nonEmpty) {
      val qc = node.putArray("quantile_cols")
      m.quantileCols.foreach(qc.add)
    }
    if (m.partQuants.nonEmpty) {
      val qn = node.putObject("part_quants")
      m.partQuants.foreach { case (rel, cols) =>
        val pn = qn.putObject(rel)
        cols.foreach { case (c, b64) => pn.put(c, b64) }
      }
    }
    if (m.freqCols.nonEmpty) {
      val fc = node.putArray("freq_cols")
      m.freqCols.foreach(fc.add)
    }
    if (m.partFreqs.nonEmpty) {
      val fn = node.putObject("part_freqs")
      m.partFreqs.foreach { case (rel, cols) =>
        val pn = fn.putObject(rel)
        cols.foreach { case (c, b64) => pn.put(c, b64) }
      }
    }
    if (m.checks.nonEmpty) {
      val checksN = node.putObject("checks")
      m.checks.foreach { case (name, e) => checksN.put(name, e) }
    }
    node.put("version", m.version)
    val st = node.putObject("storage")
    st.put("root", m.storage.root)
    st.put("format", m.storage.format)
    st.put("compression", m.storage.compression)
    Files.createDirectories(Paths.get(root))
    // Underscore prefix: Spark's file index ignores `_*`, so a partition-less
    // dataset whose data files share the root directory never tries to parse
    // the manifest as data. (A bare `manifest.json` beside part files made
    // the parquet footer reader abort the whole-table scan.)
    Files.writeString(Paths.get(root, FileName),
      om.writerWithDefaultPrettyPrinter().writeValueAsString(node))
  }

  def read(root: String): Manifest = {
    val path = Seq(FileName, LegacyFileName).map(Paths.get(root, _))
      .find(Files.exists(_))
      .getOrElse(throw new java.nio.file.NoSuchFileException(s"$root/$FileName"))
    val node = om.readTree(Files.readString(path))
    val parts = node.get("partitions").elements().asScala.map(_.asText()).toList
    val buckets = node.get("buckets").elements().asScala.map(_.asText()).toList
    val st = node.get("storage")
    Manifest(
      partitions = parts,
      buckets = buckets,
      nBuckets = node.get("n_buckets").asInt(),
      storage = StorageSpec(
        root = st.get("root").asText(),
        format = st.get("format").asText(),
        compression = st.get("compression").asText()),
      schemaDdl = Option(node.get("schema")).map(_.asText()),
      partStats = Option(node.get("part_stats")).map { stats =>
        stats.fieldNames().asScala.map { rel =>
          val pn = stats.get(rel)
          rel -> pn.fieldNames().asScala.map { c =>
            val cn = pn.get(c)
            c -> (Option(cn.get("min")).map(_.asText()),
              Option(cn.get("max")).map(_.asText()))
          }.toMap
        }.toMap
      }.getOrElse(Map.empty),
      bloomCols = Option(node.get("bloom_cols"))
        .map(_.elements().asScala.map(_.asText()).toList).getOrElse(Nil),
      partBlooms = Option(node.get("part_blooms")).map { blooms =>
        blooms.fieldNames().asScala.map { rel =>
          val pn = blooms.get(rel)
          rel -> pn.fieldNames().asScala.map(c => c -> pn.get(c).asText()).toMap
        }.toMap
      }.getOrElse(Map.empty),
      partRows = Option(node.get("part_rows")).map { rows =>
        rows.fieldNames().asScala.map(rel => rel -> rows.get(rel).asLong()).toMap
      }.getOrElse(Map.empty),
      partSums = Option(node.get("part_sums")).map { sums =>
        sums.fieldNames().asScala.map { rel =>
          val pn = sums.get(rel)
          rel -> pn.fieldNames().asScala.map { c =>
            val cn = pn.get(c)
            c -> (cn.get("sum").asText(), cn.get("n").asLong())
          }.toMap
        }.toMap
      }.getOrElse(Map.empty),
      sketchCols = Option(node.get("sketch_cols"))
        .map(_.elements().asScala.map(_.asText()).toList).getOrElse(Nil),
      partSketches = Option(node.get("part_sketches")).map { sk =>
        sk.fieldNames().asScala.map { rel =>
          val pn = sk.get(rel)
          rel -> pn.fieldNames().asScala.map(c => c -> pn.get(c).asText()).toMap
        }.toMap
      }.getOrElse(Map.empty),
      quantileCols = Option(node.get("quantile_cols"))
        .map(_.elements().asScala.map(_.asText()).toList).getOrElse(Nil),
      partQuants = Option(node.get("part_quants")).map { qn =>
        qn.fieldNames().asScala.map { rel =>
          val pn = qn.get(rel)
          rel -> pn.fieldNames().asScala.map(c => c -> pn.get(c).asText()).toMap
        }.toMap
      }.getOrElse(Map.empty),
      freqCols = Option(node.get("freq_cols"))
        .map(_.elements().asScala.map(_.asText()).toList).getOrElse(Nil),
      partFreqs = Option(node.get("part_freqs")).map { fn =>
        fn.fieldNames().asScala.map { rel =>
          val pn = fn.get(rel)
          rel -> pn.fieldNames().asScala.map(c => c -> pn.get(c).asText()).toMap
        }.toMap
      }.getOrElse(Map.empty),
      checks = Option(node.get("checks")).map { cs =>
        cs.fieldNames().asScala.map(n => n -> cs.get(n).asText()).toMap
      }.getOrElse(Map.empty),
      version = Option(node.get("version")).map(_.asLong()).getOrElse(0L))
  }
}
