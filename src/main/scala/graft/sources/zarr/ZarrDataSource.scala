package graft.sources.zarr

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Read-only DSv2 source for consolidated Zarr v2 stores of 1-D/2-D
  * arrays sharing one record dimension — the reference's `xr.open_zarr`
  * ingest (`qaqc/dashboard.py:311`) as a native Spark table:
  *
  * {{{
  *   spark.read.format("zarr").load("/path/to/store.zarr")
  *   // options: dim=<record dimension>  (default: auto — the dimension
  *   //          shared by the most arrays)
  *   //          sortedCoord=auto|true|false  (default auto — probe the
  *   //          record coordinate and binary-search-prune when it
  *   //          qualifies; see [[SortedMode]])
  * }}}
  *
  * Scale design (the reason this is a DSv2 source and not a driver
  * loop):
  *  - **one InputPartition per record chunk**: Zarr's chunking IS the
  *    split contract; a 100 TB store with 1M chunks plans 1M independent
  *    partitions, each reading only its own chunk files.
  *  - **time-chunk pruning → partition pruning**: filters on the record
  *    coordinate prune CHUNKS at planning time using per-chunk
  *    [min, max] bounds from one planning-time pass over the (tiny)
  *    coordinate array — the same layout-contract pruning as
  *    `TimeLayout.readSpan` (a two-day dashboard span over a year-long
  *    store touches ~0.5% of chunks). Filters stay in the post-scan
  *    plan (pruning is chunk-granular, never claimed exact).
  *  - **row bound**: [[ZarrDataSource.rowUpperBound]] gives a scan's
  *    `keptRows`, the row total of the chunks that survive pruning — an
  *    upper bound on what it returns, known at planning without a job
  *    (`Pipeline.plotData` bounds its series lengths with it). The scan
  *    reports no statistics to Spark, so Catalyst plans as before.
  *  - **column pruning → array pruning**: unprojected arrays' chunk
  *    files are never opened (each column is its own file set — Zarr is
  *    columnar on disk).
  *  - **Hadoop FileSystem IO**: every byte goes through one seam
  *    ([[ZarrIO]]) resolved from the session's Hadoop conf, so
  *    `file://`, bare local paths, `s3a://` and `hdfs://` stores all
  *    work — the reference opens its stores on S3
  *    (`qaqc/dashboard.py:305-313`). The scan broadcasts its conf once
  *    and the reader factory carries only the broadcast handle, as
  *    Spark's own `ParquetScan` does (credentials/endpoint settings
  *    ride along). Carried inline, the conf (111 KB serialized) was
  *    deserialized by every task: 19-37 ms per task in short QAQC
  *    launches on a 4-vCPU VM, more than most tasks' run time.
  *
  * 2-D arrays over (record × extra) dims — OPTAA `optical_absorption
  * (time × wavelength)`, SUNA `spectral_channels (N × 256)`
  * (`calculateFunctions.py:317-319,691-696`) — surface as `ArrayType`
  * columns; their NaN elements stay NaN inside the array (the array IS
  * the value; xarray reads the same shape).
  *
  * Chunk decode (zlib / gzip / blosc-lz4 / blosc-zlib / memcpy, byte
  * shuffle) and CF time units are [[ZarrMeta]]'s public-spec
  * implementations. Missing chunk files yield fill_value runs per the
  * Zarr spec.
  */
class ZarrDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zarr"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZarrTable.load(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    ZarrTable.load(new CaseInsensitiveStringMap(properties))
}

object ZarrDataSource {
  /** Whether `table` is a Zarr store's table. */
  def isZarr(table: Table): Boolean = table.isInstanceOf[ZarrTable]

  /** The rows of `scan`'s surviving chunks when it is a Zarr scan — an
    * upper bound on the rows it returns — and None for any other scan.
    */
  def rowUpperBound(scan: Scan): Option[Long] = scan match {
    case z: ZarrScan => Some(z.keptRows)
    case _ => None
  }
}

/** The one IO seam: all store bytes flow through Hadoop [[Path
  * .getFileSystem]], so scheme resolution (file://, s3a://, hdfs://,
  * bare local paths via the default FS) and credentials follow the
  * session's Hadoop configuration exactly like Spark's parquet scans.
  */
private[zarr] object ZarrIO {
  /** Driver-side conf: the active session's (carries spark.hadoop.*
    * settings — s3a keys, endpoints); a plain Configuration outside a
    * session (unit-level codec tests).
    */
  def driverConf(): Configuration =
    try SparkSession.active.sessionState.newHadoopConf()
    catch { case _: Exception => new Configuration() }

  def resolve(store: String, parts: String*): Path =
    parts.foldLeft(new Path(store))((p, s) => new Path(p, s))

  /** Immediate child directory names of the store root — the
    * non-consolidated Zarr v3 discovery path (each array child holds its
    * own zarr.json).
    */
  def listChildDirs(conf: Configuration, store: String): Seq[String] = {
    val p = new Path(store)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** Whole-file bytes, or None when the file does not exist (a missing
    * chunk = fill_value run per the Zarr spec).
    */
  def readIfExists(conf: Configuration, store: String,
                   parts: String*): Option[Array[Byte]] = {
    val p = resolve(store, parts: _*)
    val fs = p.getFileSystem(conf)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val len = st.getLen
    require(len <= Int.MaxValue, s"zarr: $p is ${len} bytes (> 2 GiB chunk)")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    Some(buf)
  }

  /** `len` bytes at the file's head or tail (the v3 shard-index frame),
    * or None when the file does not exist (a missing shard = fill runs
    * for every inner chunk). One status + one positional read — on an
    * object store, two GETs, independent of shard size.
    */
  def readEdgeIfExists(conf: Configuration, store: String, atEnd: Boolean,
                       len: Int, parts: String*): Option[Array[Byte]] = {
    val p = resolve(store, parts: _*)
    val fs = p.getFileSystem(conf)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    require(st.getLen >= len,
      s"zarr: $p is ${st.getLen} bytes, shorter than its $len-byte shard index")
    val off = if (atEnd) st.getLen - len else 0L
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(off, buf) finally in.close()
    Some(buf)
  }

  /** `len` bytes at `offset` of an existing file (one inner chunk of a
    * v3 shard) — a single positional read, never the whole shard.
    */
  def readRange(conf: Configuration, store: String, offset: Long, len: Int,
                parts: String*): Array[Byte] = {
    val p = resolve(store, parts: _*)
    val fs = p.getFileSystem(conf)
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(offset, buf) finally in.close()
    buf
  }
}

// Hadoop Configuration is not Serializable; the scan broadcasts the
// driver's conf wrapped in Spark's own SerializableConfiguration (the
// class and the broadcast Spark's file sources use), so each executor
// deserializes it once per scan instead of once per task.

/** How coordinate-chunk pruning treats the record coordinate's order:
  *  - `Auto` (default): probe the first and last coordinate chunks at
  *    planning (2 reads) — if both are internally non-decreasing,
  *    NaN-free, and ordered against each other, use the O(log nChunks)
  *    binary search, with every chunk the search probes ALSO verified
  *    internally monotone (its bytes are already decoded to read the
  *    first value — the check is a free scan); any violation anywhere
  *    falls back to the exact per-chunk min/max pass.
  *  - `Forced` (`option("sortedCoord", "true")`): the user declares the
  *    coordinate globally sorted; binary search with the same per-probe
  *    verification.
  *  - `Exact` (`option("sortedCoord", "false")`): always the exact
  *    per-chunk min/max pass — the opt-out for adversarial stores that
  *    are sorted at every probed chunk yet disordered between them
  *    (the one shape Auto's verification cannot see).
  */
private[zarr] sealed trait SortedMode
private[zarr] object SortedMode {
  case object Auto extends SortedMode
  case object Forced extends SortedMode
  case object Exact extends SortedMode
  def parse(opt: String): SortedMode = opt match {
    case null | "" | "auto" => Auto
    case "true" => Forced
    case "false" => Exact
    case other => throw new IllegalArgumentException(
      s"zarr: sortedCoord must be auto/true/false, got '$other'")
  }
  def of(options: CaseInsensitiveStringMap): SortedMode =
    parse(Option(options.get("sortedCoord")).map(_.toLowerCase).orNull)
}

private[zarr] object ZarrTable {
  // one parse per (store, dim) GENERATION: inferSchema and getTable both
  // land here per read, and on an object store the second GET is a real
  // round-trip. The stored .zmetadata mtime+len keeps a rewritten store
  // fresh instead of serving stale metadata, and replacing (not keying
  // on) the generation means old entries are EVICTED — a long-lived
  // driver over rotating stores does not leak one table + Configuration
  // per rewrite.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Boolean), (Long, Long, ZarrTable)]()
  // distinct (path, dim) keys are bounded too: a driver enumerating
  // thousands of stores must not grow this map forever. Eviction is
  // whole-map (entries re-parse on demand — correctness never depends
  // on a hit).
  private val MaxEntries = 64

  def load(options: CaseInsensitiveStringMap): ZarrTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("zarr: .load(path) is required"))
    val dimOpt = Option(options.get("dim")).getOrElse("")
    val sorted = SortedMode.of(options)
    // u8 dtype policy: "reject" (default — no lossless integral home) or
    // "decimal" (opt-in Decimal(20,0), exact over the full unsigned
    // range). Part of the cache key: it changes the SCHEMA.
    val u8Decimal = Option(options.get("u8")).map(_.toLowerCase) match {
      case None | Some("reject") => false
      case Some("decimal") => true
      case Some(other) => throw new IllegalArgumentException(
        s"zarr: u8 must be reject/decimal, got '$other'")
    }
    val conf = ZarrIO.driverConf()
    // generation stat: the v2 consolidated .zmetadata, else the v3 root
    // zarr.json (v3 needs no consolidation — arrays are discoverable by
    // listing; a consolidated_metadata block is used when present)
    val zp = ZarrIO.resolve(path, ".zmetadata")
    val v3p = ZarrIO.resolve(path, "zarr.json")
    val st =
      try zp.getFileSystem(conf).getFileStatus(zp)
      catch {
        case _: java.io.FileNotFoundException =>
          try v3p.getFileSystem(conf).getFileStatus(v3p)
          catch {
            case _: java.io.FileNotFoundException =>
              throw new IllegalArgumentException(
                s"zarr: $path has neither .zmetadata (consolidated v2 — " +
                  "zarr.consolidate_metadata in the writer) nor zarr.json " +
                  "(v3 root)")
          }
      }
    if (!cache.containsKey((path, dimOpt, u8Decimal)) && cache.size() >= MaxEntries)
      cache.clear()
    val table = cache.compute((path, dimOpt, u8Decimal), (_, old) =>
      if (old != null && old._1 == st.getModificationTime &&
        old._2 == st.getLen) old
      else (st.getModificationTime, st.getLen,
        parse(path, dimOpt, u8Decimal, conf)))._3
    // a cache HIT must still see THIS session's Hadoop settings:
    // refreshed s3a credentials/STS tokens or changed spark.hadoop.*
    // keys land in the freshly-computed conf, not the one pinned at
    // first load (round-13 ADVICE)
    table.refreshConf(conf)
    // sortedCoord is a per-read option, not part of the parsed layout
    if (table.sorted == sorted) table
    else table.copyWith(sorted)
  }

  private def parse(path: String, dimOpt: String, u8Decimal: Boolean,
                    conf: Configuration): ZarrTable = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def utf8(b: Array[Byte]) = new String(b, java.nio.charset.StandardCharsets.UTF_8)
    val arrays = ZarrIO.readIfExists(conf, path, ".zmetadata") match {
      case Some(zmeta) => ZarrMeta.parseConsolidated(utf8(zmeta), u8Decimal)
      case None => // Zarr v3: root zarr.json; arrays from its
        // consolidated_metadata when present, else a child listing
        val root = ZarrIO.readIfExists(conf, path, "zarr.json").getOrElse(
          throw new IllegalArgumentException(
            s"zarr: $path has neither .zmetadata nor zarr.json"))
        ZarrMeta.parseV3(mapper.readTree(utf8(root)),
          childNames = p => ZarrIO.listChildDirs(conf,
            if (p.isEmpty) path else ZarrIO.resolve(path, p).toString),
          childJson = n => ZarrIO.readIfExists(conf, path, n, "zarr.json")
            .map(b => mapper.readTree(utf8(b))),
          u8Decimal = u8Decimal)
    }
    require(arrays.nonEmpty, s"zarr: $path holds no 1-D/2-D arrays")
    val dim = if (dimOpt.nonEmpty) dimOpt else {
      // the record dimension: shared by the most arrays as dim 0
      // (ties → name asc)
      arrays.values.flatMap(_.dims.headOption).groupBy(identity)
        .map { case (d, g) => (d, g.size) }.toSeq
        .sortBy { case (d, n) => (-n, d) }
        .headOption.map(_._1).getOrElse(throw new IllegalArgumentException(
          s"zarr: no _ARRAY_DIMENSIONS attrs in $path; pass option(\"dim\", ...)"))
    }
    val cols = arrays.values.filter(m =>
      m.dims == Seq(dim) ||
        (m.is2D && m.dims.length == 2 && m.dims.head == dim) ||
        (m.is3D && m.dims.length == 3 && m.dims.head == dim)).toSeq.sortBy { m =>
      (if (m.name == dim) 0 else 1, m.name) // coordinate column first
    }
    require(cols.nonEmpty, s"zarr: no arrays over dimension '$dim' in $path")
    val len = cols.head.shape
    cols.foreach(m => require(m.shape == len,
      s"zarr: array '${m.name}' has length ${m.shape} != $len of '$dim'"))
    // record-dim chunk UNIFORMITY is load-validated, not assumed: the
    // reader maps partition c to record chunk c of EVERY column, so a
    // per-variable chunk encoding (legal Zarr, xarray can write it)
    // would silently misalign rows — chunk 1 of a 200-chunked value
    // against rows 100-199 of a 100-chunked coordinate
    val chunk = cols.head.chunk
    cols.foreach(m => require(m.chunk == chunk,
      s"zarr: array '${m.name}' is chunked [${m.chunk}] but '$dim' is " +
        s"[$chunk] — per-variable chunking is not supported (rechunk " +
        "the store so arrays over the record dimension share one chunk size)"))
    new ZarrTable(path, dim, cols, conf, SortedMode.Auto)
  }
}

private[zarr] class ZarrTable(path: String, dim: String,
                              cols: Seq[ZarrMeta.ArrayMeta],
                              @volatile private var conf: Configuration,
                              val sorted: SortedMode)
    extends Table with SupportsRead {
  def copyWith(s: SortedMode): ZarrTable =
    new ZarrTable(path, dim, cols, conf, s)
  /** Swap in the current session's Hadoop conf — a cache hit must not
    * pin the FIRST load's credentials/endpoints for the store's whole
    * cached lifetime (see [[ZarrTable.load]]).
    */
  def refreshConf(c: Configuration): Unit = { conf = c }
  override def name(): String = s"zarr:$path"
  override def schema(): StructType =
    StructType(cols.map(m => StructField(m.name, m.sparkType, nullable = true)))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(path, dim, cols,
      sorted = if (options.containsKey("sortedCoord")) SortedMode.of(options)
               else sorted,
      conf = conf)
}

private[zarr] class ZarrScanBuilder(path: String, dim: String,
                                    cols: Seq[ZarrMeta.ArrayMeta],
                                    sorted: SortedMode = SortedMode.Auto,
                                    conf: Configuration = ZarrIO.driverConf())
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: Seq[ZarrMeta.ArrayMeta] = cols
  private var coordBounds: Option[(Double, Double)] = None

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val names = requiredSchema.fieldNames.toSet
    required = cols.filter(m => names.contains(m.name))
  }

  /** Record-coordinate range filters prune chunks; EVERY filter is
    * returned as unhandled (pruning is chunk-granular — Spark re-applies
    * the exact predicate post scan, like parquet row-group skipping).
    * Pruning needs a SCALAR coordinate array named after the record dim;
    * a store without one scans every chunk (still correct).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val coordOpt = cols.headOption.filter(m =>
      m.name == dim && !m.is2D && !m.is3D)
    coordOpt.foreach { coord =>
      var lo = Double.NegativeInfinity
      var hi = Double.PositiveInfinity
      def num(v: Any): Option[Double] = v match {
        case n: Number => Some(n.doubleValue())
        case t: java.sql.Timestamp =>
          Some(t.getTime * 1000.0 + (t.getNanos / 1000) % 1000)
        case i: java.time.Instant =>
          Some(i.getEpochSecond * 1e6 + i.getNano / 1000.0)
        case d: java.sql.Date => // calendar field, NOT getTime: getTime is
          // local-midnight millis, but M8[D] chunk coords prune in UTC
          // day-start micros — on a non-UTC JVM the instant-based bound
          // shifts by the tz offset and can prune chunks holding matches.
          Some(d.toLocalDate.toEpochDay * 86400e6)
        case ld: java.time.LocalDate => // DateType filters (Java-8 API)
          Some(ld.toEpochDay * 86400e6)
        case _ => None
      }
      filters.foreach {
        case GreaterThan(a, v) if a == coord.name => num(v).foreach(x => lo = math.max(lo, x))
        case GreaterThanOrEqual(a, v) if a == coord.name => num(v).foreach(x => lo = math.max(lo, x))
        case LessThan(a, v) if a == coord.name => num(v).foreach(x => hi = math.min(hi, x))
        case LessThanOrEqual(a, v) if a == coord.name => num(v).foreach(x => hi = math.min(hi, x))
        case EqualTo(a, v) if a == coord.name =>
          num(v).foreach { x => lo = math.max(lo, x); hi = math.min(hi, x) }
        case _ =>
      }
      if (lo > Double.NegativeInfinity || hi < Double.PositiveInfinity)
        coordBounds = Some((lo, hi))
    }
    filters // all unhandled: exact filtering stays in the plan
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan =
    new ZarrScan(path, required, cols.head, coordBounds, sorted, conf)
}

private[zarr] class ZarrScan(path: String, required: Seq[ZarrMeta.ArrayMeta],
                             coord: ZarrMeta.ArrayMeta,
                             coordBounds: Option[(Double, Double)],
                             sorted: SortedMode,
                             conf: Configuration)
    extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(required.map(m => StructField(m.name, m.sparkType, nullable = true)))

  override def toBatch: Batch = this

  override def description(): String = {
    val cb = coordBounds.map { case (l, h) => s", coordBounds=[$l,$h]" }.getOrElse("")
    s"zarr $path cols=${required.map(_.name).mkString(",")}$cb"
  }

  /** One partition per surviving record chunk. */
  override def planInputPartitions(): Array[InputPartition] =
    keptChunks.map(c => ZarrInputPartition(path, c): InputPartition).toArray

  /** The row total of the chunks that survive pruning: an upper bound
    * on the rows the scan returns (the coordinate filter stays in the
    * plan).
    */
  private[zarr] lazy val keptRows: Long =
    keptChunks.iterator.map(c => ZarrReader.rowsInChunk(coord, c).toLong).sum

  /** The record chunks that survive pruning, ascending, computed once
    * per scan: the partitions and [[keptRows]] read the same list.
    * Pruning strategy per [[SortedMode]]:
    *
    * The EXACT path reads the coordinate array once at planning: per
    * chunk, decode and take [min, max] — exact bounds with no
    * sortedness assumption (the scan is correct on unsorted coords;
    * only pruning effectiveness needs ordering). That is O(nChunks)
    * driver-side chunk decodes — fine for dashboards' per-instrument
    * stores (thousands of chunks), a funnel at a 1M-chunk 100 TB
    * store.
    *
    * The SORTED path is an O(log nChunks) binary search over chunk
    * FIRST values. By default (`Auto`) it self-qualifies: a 2-read
    * first/last-chunk monotonicity probe gates entry, and every chunk
    * the search touches is verified internally non-decreasing (its
    * bytes are already decoded — the check is a free array scan); any
    * violation falls back to the exact pass. `option("sortedCoord",
    * "true")` skips the entry probe (the user's contract — every
    * reference time series is time-sorted); `"false"` forces the exact
    * pass, the opt-out for a store sorted at every probed chunk yet
    * disordered between probes — the one residual shape the
    * verification cannot observe.
    */
  private lazy val keptChunks: Seq[Long] = {
    val nChunks = coord.nChunks
    val canPrune = !coord.is2D && !coord.is3D // bounds: scalar coord only
    // decoded coordinate chunk in pruning space, or None when missing
    def chunkVals(c: Long): Option[Array[Double]] =
      ZarrReader.readChunkBytes(conf, path, coord, c).map(coordPruneVals)
    // non-decreasing and NaN-free over the chunk's LOGICAL rows (the
    // padded tail of the last chunk is not data)
    def monotone(vals: Array[Double], c: Long): Boolean = {
      val rows = ZarrReader.rowsInChunk(coord, c)
      var ok = rows > 0 && !vals(0).isNaN
      var i = 1
      while (ok && i < rows) {
        ok = !vals(i).isNaN && vals(i) >= vals(i - 1)
        i += 1
      }
      ok
    }
    def binarySearchApplies: Boolean = sorted match {
      case SortedMode.Forced => true
      case SortedMode.Exact => false
      case SortedMode.Auto =>
        // the 2-read qualification probe: first and last chunks sorted
        // internally AND against each other
        (chunkVals(0), chunkVals(nChunks - 1)) match {
          case (Some(v0), Some(vl)) =>
            monotone(v0, 0) && monotone(vl, nChunks - 1) &&
              v0(ZarrReader.rowsInChunk(coord, 0) - 1) <= vl(0)
          case _ => false
        }
    }
    coordBounds match {
      case None => (0L until nChunks)
      case Some(_) if !canPrune => (0L until nChunks)
      case Some((lo, hi)) if nChunks > 1 && binarySearchApplies =>
        // first coordinate value of chunk c (None → fall through to the
        // exact full-scan pruning: a missing coordinate chunk, a NaN,
        // or an internally-disordered chunk breaks the monotone
        // first-value sequence the search needs — NaN gap markers are
        // legal in float coords)
        def firstVal(c: Long): Option[Double] =
          chunkVals(c).filter(vals => monotone(vals, c)).map(_(0))
        val probed = scala.collection.mutable.HashMap.empty[Long, Option[Double]]
        def fv(c: Long): Option[Double] = probed.getOrElseUpdate(c, firstVal(c))
        // largest chunk whose first value ≤ bound (strict: < bound);
        // −1 if none
        def floorChunk(bound: Double, strict: Boolean): Option[Long] = {
          var loC = 0L; var hiC = nChunks - 1; var ans = -1L
          var broken = false
          while (loC <= hiC && !broken) {
            val mid = (loC + hiC) >>> 1
            fv(mid) match {
              case None => broken = true
              case Some(v) =>
                if (if (strict) v < bound else v <= bound) {
                  ans = mid; loC = mid + 1
                } else hiC = mid - 1
            }
          }
          if (broken) None else Some(ans)
        }
        // lower bound is a STRICT floor: with duplicate coordinate
        // values spanning a chunk boundary, the chunk BEFORE a first
        // value == lo can still end with rows == lo — a ≤-floor would
        // prune it. Chunk c < aStrict has firstVal(c+1) < lo, so its
        // last value < lo: safely pruned; c ≥ aStrict has
        // firstVal(c+1) ≥ lo and may intersect.
        (floorChunk(lo, strict = true), floorChunk(hi, strict = false)) match {
          case (Some(a), Some(b)) =>
            (math.max(a, 0L) to math.min(b, nChunks - 1))
          case _ => fullScanPrune(lo, hi, nChunks)
        }
      case Some((lo, hi)) => fullScanPrune(lo, hi, nChunks)
    }
  }

  /** Coordinate chunk values in PRUNING space: CF-time coords become
    * epoch micros — integral dtypes on the exact Long path (the reader's
    * ±1 µs int64-nanosecond lesson applies here too: a double-leg bound
    * could wrongly prune a chunk whose true max equals the filter value
    * exactly) — plain coords their raw values. Micros fit double's 2^53
    * exactly, so the Double pruning comparisons stay exact.
    */
  private def coordPruneVals(bytes: Array[Byte]): Array[Double] =
    if (coord.isCfTime) {
      val (perUnit, epoch) = ZarrMeta.cfTime(coord.units.get)
      if (coord.dtypeStr.contains("i"))
        ZarrMeta.longsOf(coord, bytes)
          .map(v => ZarrMeta.cfToMicrosLong(v, perUnit, epoch).toDouble)
      else ZarrMeta.doublesOf(coord, bytes)
        // NaN gap markers stay NaN (cfToMicros would map them to the
        // epoch): the min/max prune skips them naturally (comparisons
        // are false), the sorted path's firstVal rejects them
        .map(v => if (v.isNaN) Double.NaN
                  else ZarrMeta.cfToMicros(v, perUnit, epoch).toDouble)
    } else if (coord.isDatetime) {
      // raw datetime64 coordinate: same micros pruning space as CF time
      // (the pushed Timestamp/Instant/Date filter values are micros —
      // M8[D] day offsets scale to day-start micros); NaT rides as NaN
      // so min/max skips it and the sorted path rejects it
      val unit = coord.datetimeUnit
      ZarrMeta.longsOf(coord, bytes).map(v =>
        if (v == ZarrMeta.NaT) Double.NaN
        else ZarrMeta.dt64PruneMicros(v, unit).toDouble)
    } else ZarrMeta.doublesOf(coord, bytes)

  /** Exact pruning decides each chunk INDEPENDENTLY (read its coordinate
    * chunk, compare [min, max]), so the driver evaluates chunks in
    * parallel — at a 65k-chunk store the sequential loop was file-read
    * bound at ~7 s; parallelizing cuts it ~10× (ZarrPlanProbe measures
    * both). The work runs on a DEDICATED ForkJoinPool, not the JVM-wide
    * commonPool: blocking object-store IO + decompression on the shared
    * pool would serialize concurrent scans behind each other and starve
    * unrelated parallel-stream users driver-wide (round-13 ADVICE).
    * FileSystem reads and the codec layer are thread-safe (pure decode
    * over per-call buffers). Order of the RESULT is ascending by
    * construction (the flags array is indexed, not appended).
    */
  private def fullScanPrune(lo: Double, hi: Double,
                            nChunks: Long): Seq[Long] = {
    require(nChunks <= Int.MaxValue,
      s"zarr: $nChunks chunks exceeds the planner's Int range")
    def intersects(c: Long): Boolean =
      ZarrReader.readChunkBytes(conf, path, coord, c) match {
        case None => coord.fillValue.flatMap { f =>
          if (coord.isCfTime) {
            val (perUnit, epoch) = ZarrMeta.cfTime(coord.units.get)
            Some(ZarrMeta.cfToMicros(f, perUnit, epoch).toDouble)
          } else if (coord.isDatetime) {
            // NaT fill = missing timestamps: never inside a time range.
            // A JSON "NaN" fill on a datetime64 array is the same
            // missing marker (Double.NaN.toLong is 0 — without this
            // guard the fill run would wrongly claim the 1970 epoch)
            if (f.isNaN || f.toLong == ZarrMeta.NaT) None
            else Some(ZarrMeta.dt64PruneMicros(
              coord.fillLong.getOrElse(f.toLong), coord.datetimeUnit).toDouble)
          } else Some(f)
        }.exists(v => v >= lo && v <= hi)
        case Some(bytes) =>
          val vals = coordPruneVals(bytes)
          val n = ZarrReader.rowsInChunk(coord, c)
          var mn = Double.PositiveInfinity
          var mx = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            val v = vals(i)
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          mx >= lo && mn <= hi
      }
    val keep = new Array[Boolean](nChunks.toInt)
    // a parallel stream submitted from inside a ForkJoinPool task runs
    // on THAT pool (the standard containment idiom) — per-call pool,
    // bounded parallelism, torn down after the pass
    val pool = new java.util.concurrent.ForkJoinPool(
      math.min(32, Runtime.getRuntime.availableProcessors()))
    try {
      pool.submit(new Runnable {
        override def run(): Unit =
          java.util.stream.LongStream.range(0L, nChunks).parallel()
            .forEach(c => keep(c.toInt) = intersects(c))
      }).get()
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
    (0L until nChunks).filter(c => keep(c.toInt))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // coord rides along as the row-count witness: a fully-pruned
    // projection (count(*)) still needs rowsInChunk. The conf is
    // broadcast once per scan, and it is THIS scan's conf (the body of
    // Spark's package-private SerializableConfiguration.broadcast(sc,
    // conf)): the context's hadoopConfiguration lacks the session keys
    new ZarrReaderFactory(required, coord,
      SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf)))
}

private[zarr] case class ZarrInputPartition(path: String, chunk: Long)
    extends InputPartition

private[zarr] class ZarrReaderFactory(required: Seq[ZarrMeta.ArrayMeta],
                                      rowMeta: ZarrMeta.ArrayMeta,
                                      conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ZarrInputPartition]
    new ZarrChunkReader(conf.value.value, p.path, p.chunk, required, rowMeta)
  }
}

private[zarr] object ZarrReader {
  /** Parsed shard indexes, keyed by (store, array, shard file): 2·n
    * longs of (offset, nbytes) per inner chunk, or the empty array for
    * a missing shard file. Many partitions read inner chunks of the
    * SAME shard, and each index fetch is a real GET on an object store
    * — caching it halves the steady-state round-trips (1 positional
    * read per inner chunk).
    *
    * IMMUTABLE-STORE ASSUMPTION (documented contract, round-18 ADVICE):
    * entries — including negative MissingShard ones — are never
    * invalidated for the JVM's lifetime, exactly like [[ZarrTable]]'s
    * metadata generations are only re-checked at `load`. Zarr stores
    * this source reads are write-once provider products (the reference
    * never mutates a published store in place); a store rewritten AT
    * THE SAME PATH must be re-read in a fresh session or under a new
    * path. Keying on the shard file's (mtime, length) instead would
    * put a getFileStatus round-trip in front of EVERY cache hit —
    * paying the GET the cache exists to avoid.
    *
    * Bounded as a true LRU (access-order LinkedHashMap, one eldest
    * entry evicted at the bound): the former wholesale `clear()` made
    * every concurrent task re-fetch its index at once — a burst of
    * GETs on object stores — right when the working set crossed the
    * bound. An index is ≤ a few KB; 4096 of them is ~64 MB worst-case,
    * usually far less. Evicted entries (and MissingShard negatives)
    * simply re-resolve on next access — correctness never depends on a
    * hit ([[ZarrShardCacheSpec]] drives >4096 distinct shards through
    * one JVM to pin both properties).
    *
    * STRIPED 16 ways (round-18 ADVICE item 3): a single
    * `Collections.synchronizedMap` put every hit across all 32 scan
    * threads behind one mutex — an access-order LinkedHashMap mutates
    * its recency list even on `get`, so reads can't be lock-free — and
    * the map is touched once per inner-chunk read. Sixteen
    * independently-locked segments (key-hash selected, 256-entry LRU
    * each, 16×256 = the same 4096 global bound) cut expected
    * contention 16× with zero change to the contract: the spec's
    * global-bound and re-resolve assertions hold unchanged. A hot
    * segment may evict slightly before a cold one fills — standard
    * striped-LRU behavior; eviction is always just a re-fetch.
    */
  private val ShardIndexStripes = 16
  private val ShardIndexCacheMax = 4096
  private final class Stripe extends java.util.LinkedHashMap[String, Array[Long]](
      64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Array[Long]]): Boolean =
      size() > ShardIndexCacheMax / ShardIndexStripes
  }
  private val shardIndexStripes: Array[java.util.Map[String, Array[Long]]] =
    Array.fill(ShardIndexStripes)(
      java.util.Collections.synchronizedMap(new Stripe))
  private def stripeFor(key: String): java.util.Map[String, Array[Long]] =
    // mask, not .abs: Int.MinValue.abs is still negative
    shardIndexStripes((key.hashCode & 0x7fffffff) % ShardIndexStripes)
  /** Test seam: current entry count across stripes (the spec pins the
    * global LRU bound).
    */
  private[zarr] def shardIndexCacheSize: Int =
    shardIndexStripes.map(_.size()).sum
  private val MissingShard = new Array[Long](0)

  /** Read + verify + parse one shard's index frame (uint64-LE pairs,
    * optional trailing crc32c), or [[MissingShard]] when the shard file
    * itself is absent.
    */
  private def shardIndex(conf: Configuration, path: String,
                         meta: ZarrMeta.ArrayMeta, fileName: String,
                         innerCount: Int): Array[Long] = {
    val key = s"$path|${meta.name}|$fileName"
    val stripe = stripeFor(key)
    val hit = stripe.get(key)
    if (hit != null) return hit
    val idxLen = innerCount * 16 + (if (meta.shardIndexCrc) 4 else 0)
    val idx = ZarrIO.readEdgeIfExists(conf, path, meta.shardIndexAtEnd,
      idxLen, meta.name, fileName) match {
      case None => MissingShard
      case Some(b) =>
        if (meta.shardIndexCrc) {
          val crc = new java.util.zip.CRC32C()
          crc.update(b, 0, b.length - 4)
          val stored = java.nio.ByteBuffer.wrap(b, b.length - 4, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt() & 0xffffffffL
          require(crc.getValue == stored,
            s"zarr: crc32c mismatch on the shard index of array " +
              s"'${meta.name}' shard $fileName (stored $stored, computed " +
              s"${crc.getValue}) — corrupt shard")
        }
        val bb = java.nio.ByteBuffer.wrap(b)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        Array.tabulate(innerCount * 2)(i => bb.getLong(i * 8))
    }
    stripe.put(key, idx) // striped-LRU-bounded; see the cache contract
    idx
  }

  /** Chunk file bytes, or None for a missing chunk (fill_value run).
    * v2 names chunks "c" / "c.j"; v3 per the array's chunk_key_encoding
    * (`keyPrefix`/`keySep` — e.g. "c/0" / "c/0/1"). For a SHARDED v3
    * array, `chunk`/`extraChunk` address the INNER chunk: the shard
    * file is located from the shard grid, its index consulted (cached
    * per JVM), and only the inner chunk's byte range read — a shard is
    * never fetched whole, so IO per task stays proportional to the
    * pruned chunk set at any shard size.
    */
  def readChunkBytes(conf: Configuration, path: String,
                     meta: ZarrMeta.ArrayMeta, chunk: Long,
                     extraChunk: Long = 0L,
                     extra2Chunk: Long = 0L): Option[Array[Byte]] = {
    if (meta.isSharded)
      return readInnerChunkBytes(conf, path, meta, chunk, extraChunk, extra2Chunk)
    val fileName =
      if (meta.is3D)
        s"${meta.keyPrefix}$chunk${meta.keySep}$extraChunk${meta.keySep}$extra2Chunk"
      else if (meta.is2D) s"${meta.keyPrefix}$chunk${meta.keySep}$extraChunk"
      else s"${meta.keyPrefix}$chunk"
    ZarrIO.readIfExists(conf, path, meta.name, fileName)
      .map(raw => ZarrMeta.decodeChunk(meta, raw))
  }

  private def readInnerChunkBytes(conf: Configuration, path: String,
                                  meta: ZarrMeta.ArrayMeta, chunk: Long,
                                  extraChunk: Long,
                                  extra2Chunk: Long): Option[Array[Byte]] = {
    val ips0 = meta.shardChunk / meta.chunk // inner chunks per shard, dim 0
    val ips1 =
      if (meta.is2D || meta.is3D) meta.shardExtraChunk / meta.extraChunk else 1
    val ips2 = if (meta.is3D) meta.shardExtra2Chunk / meta.extra2Chunk else 1
    val s0 = chunk / ips0
    val i0 = (chunk % ips0).toInt
    val s1 = extraChunk / ips1
    val i1 = (extraChunk % ips1).toInt
    val s2 = extra2Chunk / ips2
    val i2 = (extra2Chunk % ips2).toInt
    val fileName =
      if (meta.is3D)
        s"${meta.keyPrefix}$s0${meta.keySep}$s1${meta.keySep}$s2"
      else if (meta.is2D) s"${meta.keyPrefix}$s0${meta.keySep}$s1"
      else s"${meta.keyPrefix}$s0"
    val innerCount = ips0 * ips1 * ips2
    val idx = shardIndex(conf, path, meta, fileName, innerCount)
    if (idx.length == 0) return None // whole shard absent → fill run
    // the index is C-order over the (rank-1/2/3) inner chunk grid; the
    // all-ones sentinel marks an unwritten inner chunk (a fill run)
    val e = ((i0 * ips1 + i1) * ips2 + i2) * 2
    val off = idx(e)
    val nb = idx(e + 1)
    if (off == -1L && nb == -1L) return None
    require(off >= 0 && nb >= 0 && nb <= Int.MaxValue,
      s"zarr: shard index of array '${meta.name}' shard $fileName entry " +
        s"${e / 2} has offset $off nbytes $nb (corrupt index)")
    val raw = ZarrIO.readRange(conf, path, off, nb.toInt, meta.name, fileName)
    Some(ZarrMeta.decodeChunk(meta, raw))
  }

  /** Logical rows in chunk c (the LAST chunk is truncated to the array
    * length; on disk it is padded to the full chunk size).
    */
  def rowsInChunk(meta: ZarrMeta.ArrayMeta, chunk: Long): Int =
    math.min(meta.chunk.toLong, meta.shape - chunk * meta.chunk).toInt
}

/** Decodes each required array's chunk once, then iterates rows. Float
  * NaN values surface as null (the domain's missing-value convention —
  * zarr fill_value for float arrays is NaN, and xarray reads gaps the
  * same way); integral columns keep fill_value literally. 2-D arrays
  * become one ArrayData per row; NaN stays NaN INSIDE arrays (the
  * array is the value — xarray parity for spectra).
  */
private[zarr] class ZarrChunkReader(conf: Configuration, path: String,
                                    chunk: Long,
                                    required: Seq[ZarrMeta.ArrayMeta],
                                    rowMeta: ZarrMeta.ArrayMeta)
    extends PartitionReader[InternalRow] {

  private val nRows = ZarrReader.rowsInChunk(rowMeta, chunk)

  // per-column decoded payload: EVERY integral dtype rides the Long
  // path (int64 values past 2^53 — nanosecond timestamps, large ids —
  // corrupt silently through a double leg); floats ride doubles with
  // NaN → null at emit. `nulls` is non-null only for float CF time,
  // where a NaN gap marker must become a null timestamp (xarray's NaT),
  // not round(NaN)=0 = the epoch.
  private sealed trait Col
  private case object AllNull extends Col
  private final case class Doubles(v: Array[Double]) extends Col
  private final case class Longs(v: Array[Long],
                                 nulls: Array[Boolean]) extends Col
  private final case class Strs(v: Array[String]) extends Col
  private final case class Rows2D(v: Array[GenericArrayData]) extends Col

  private val columns: Array[Col] =
    required.map { m =>
      if (m.is3D) decode3D(m)
      else if (m.is2D) decode2D(m)
      else decode1D(m)
    }.toArray

  private def decode1D(m: ZarrMeta.ArrayMeta): Col = {
      val bytes = ZarrReader.readChunkBytes(conf, path, m, chunk)
      val integral = m.dtypeStr.stripPrefix("<").stripPrefix(">").stripPrefix("|").head != 'f'
      if (m.isString) bytes match {
        // fixed-width |S/<U strings (SUNA frame_type etc.): NUL padding
        // trimmed like xarray; a missing chunk is the string fill run,
        // or null when the store declares none
        case Some(b) => Strs(ZarrMeta.stringsOf(m, b))
        case None => m.fillString match {
          case Some(f) => Strs(Array.fill(nRows)(f))
          case None => AllNull
        }
      } else if (m.isCfTime) {
        val (perUnit, epoch) = ZarrMeta.cfTime(m.units.get)
        bytes match {
          case Some(b) if integral =>
            Longs(ZarrMeta.longsOf(m, b)
              .map(v => ZarrMeta.cfToMicrosLong(v, perUnit, epoch)), null)
          case Some(b) =>
            val raw = ZarrMeta.doublesOf(m, b)
            val nulls = if (raw.exists(_.isNaN)) raw.map(_.isNaN) else null
            Longs(raw.map(v =>
              if (v.isNaN) 0L else ZarrMeta.cfToMicros(v, perUnit, epoch)),
              nulls)
          case None => m.fillValue match {
            case Some(f) if !f.isNaN =>
              Longs(Array.fill(nRows)(
                ZarrMeta.cfToMicros(f, perUnit, epoch)), null)
            case _ => AllNull // no fill, or NaN fill = missing timestamps
          }
        }
      } else if (m.isDatetime) {
        // raw datetime64: int64 epoch offsets in the dtype's unit,
        // NaT (Long.MinValue) → null like a CF NaN gap. Sub-day units
        // convert to micros (TimestampType); M8[D] keeps epoch DAYS —
        // DateType's own representation (emitted as Int below).
        val unit = m.datetimeUnit
        def toOut(v: Long): Long =
          if (unit == "D") v else ZarrMeta.dt64ToMicros(v, unit)
        bytes match {
          case Some(b) =>
            val raw = ZarrMeta.longsOf(m, b)
            val nulls =
              if (raw.exists(_ == ZarrMeta.NaT)) raw.map(_ == ZarrMeta.NaT)
              else null
            Longs(raw.map(v =>
              if (v == ZarrMeta.NaT) 0L else toOut(v)),
              nulls)
          case None => m.fillValue match {
            // a NaT fill arrives as the saturated Long.MinValue double
            // (or was dropped at parse when spelled "NaT"), and a JSON
            // "NaN" fill is the same missing marker (NaN.toLong is 0 —
            // the CF branch above treats NaN fills as missing; emitting
            // dt64ToMicros(0) here would fabricate 1970-epoch rows) —
            // either way the fill run is null timestamps
            case Some(f) if !f.isNaN && f.toLong != ZarrMeta.NaT =>
              Longs(Array.fill(nRows)(
                toOut(m.fillLong.getOrElse(f.toLong))), null)
            case _ => AllNull
          }
        }
      } else if (integral) bytes match {
        case Some(b) => Longs(ZarrMeta.longsOf(m, b), null)
        case None => m.fillValue match {
          // fillLong preferred: an i8/u8 fill past 2^53 is exact only
          // through the JSON-integer path (the double leg rounds)
          case Some(f) => Longs(Array.fill(nRows)(
            m.fillLong.getOrElse(f.toLong)), null)
          case None => AllNull
        }
      } else bytes match {
        case Some(b) => Doubles(ZarrMeta.doublesOf(m, b))
        case None => m.fillValue match {
          case Some(f) => Doubles(Array.fill[Double](nRows)(f))
          case None => AllNull
        }
      }
  }

  /** One 2-D array's record chunk: gather every trailing-dim chunk file
    * (row-major C order inside each), stitch row r's width-W values.
    * A missing chunk file is a fill_value run; a missing file with NO
    * fill_value is an error (the data is undefined — fail loudly, the
    * v1 house rule).
    */
  private def decode2D(m: ZarrMeta.ArrayMeta): Col = {
    val integral = m.dtypeStr.stripPrefix("<").stripPrefix(">").stripPrefix("|").head != 'f'
    val w = m.extraShape.toInt
    val cw = m.extraChunk
    val ncc = m.nExtraChunks.toInt
    // per trailing chunk j: decoded values or null (fill run), each
    // chunk is (recordChunk × cw) row-major with edge padding
    val colChunks: Array[AnyRef] = Array.tabulate(ncc) { j =>
      ZarrReader.readChunkBytes(conf, path, m, chunk, j) match {
        case Some(b) =>
          if (m.isString) ZarrMeta.stringsOf(m, b)
          else if (integral) ZarrMeta.longsOf(m, b)
          else ZarrMeta.doublesOf(m, b)
        case None =>
          require(if (m.isString) m.fillString.isDefined
                  else m.fillValue.isDefined,
            s"zarr: array '${m.name}' chunk $chunk.$j is missing and the " +
              "array has no fill_value — undefined data")
          null
      }
    }
    val fill = m.fillValue.getOrElse(Double.NaN)
    val rows = Array.tabulate(nRows) { r =>
      val out = new Array[Any](w)
      var j = 0
      while (j < ncc) {
        val base = j * cw
        val width = math.min(cw, w - base) // trailing chunk edge
        colChunks(j) match {
          case null =>
            // fillLong preferred, matching the 1-D path: an i8/u8 fill
            // past 2^53 (e.g. u8's 2^64-1 sentinel) corrupts through the
            // double leg.
            val fv =
              if (m.isString) org.apache.spark.unsafe.types.UTF8String
                .fromString(m.fillString.get)
              else if (integral) box2DLong(m, m.fillLong.getOrElse(fill.toLong))
              else box2DDouble(m, fill)
            var k = 0
            while (k < width) { out(base + k) = fv; k += 1 }
          case ls: Array[Long] =>
            var k = 0
            while (k < width) { out(base + k) = box2DLong(m, ls(r * cw + k)); k += 1 }
          case ds: Array[Double] =>
            var k = 0
            while (k < width) { out(base + k) = box2DDouble(m, ds(r * cw + k)); k += 1 }
          case ss: Array[String] =>
            var k = 0
            while (k < width) {
              out(base + k) = org.apache.spark.unsafe.types.UTF8String
                .fromString(ss(r * cw + k))
              k += 1
            }
        }
        j += 1
      }
      new GenericArrayData(out)
    }
    Rows2D(rows)
  }

  /** One 3-D array's record chunk: gather every (d1, d2) trailing-dim
    * chunk file (each is (recordChunk × c1 × c2) row-major C order with
    * edge padding in all dims), stitch row r's nested (d1 × d2) arrays —
    * ADCP (time × bin × beam), the pH (N × 23 × 4) light measurements
    * (`calculateFunctions.py:904-918`). Missing chunk files are
    * fill_value runs; missing with NO fill is an error (the 2-D house
    * rule). The nested GenericArrayData rides the same [[Rows2D]]
    * column shape (an ArrayData per row either way).
    */
  private def decode3D(m: ZarrMeta.ArrayMeta): Col = {
    val integral = m.dtypeStr.stripPrefix("<").stripPrefix(">").stripPrefix("|").head != 'f'
    val d1 = m.extraShape.toInt
    val d2 = m.extra2Shape.toInt
    val c1 = m.extraChunk
    val c2 = m.extra2Chunk
    val n1 = m.nExtraChunks.toInt
    val n2 = m.nExtra2Chunks.toInt
    // per (j1, j2): decoded values or null (fill run)
    val chunks: Array[AnyRef] = Array.tabulate(n1 * n2) { jj =>
      val j1 = jj / n2; val j2 = jj % n2
      ZarrReader.readChunkBytes(conf, path, m, chunk, j1, j2) match {
        case Some(b) =>
          if (m.isString) ZarrMeta.stringsOf(m, b)
          else if (integral) ZarrMeta.longsOf(m, b)
          else ZarrMeta.doublesOf(m, b)
        case None =>
          require(if (m.isString) m.fillString.isDefined
                  else m.fillValue.isDefined,
            s"zarr: array '${m.name}' chunk $chunk.$j1.$j2 is missing and " +
              "the array has no fill_value — undefined data")
          null
      }
    }
    val fill = m.fillValue.getOrElse(Double.NaN)
    // fillLong preferred, matching the 1-D/2-D paths (exact past 2^53)
    lazy val fillBoxed: Any =
      if (m.isString) org.apache.spark.unsafe.types.UTF8String
        .fromString(m.fillString.get)
      else if (integral) box2DLong(m, m.fillLong.getOrElse(fill.toLong))
      else box2DDouble(m, fill)
    val rows = Array.tabulate(nRows) { r =>
      val outer = new Array[Any](d1)
      var i = 0
      while (i < d1) {
        val j1 = i / c1
        val iL = i % c1
        val inner = new Array[Any](d2)
        var j = 0
        while (j < d2) {
          val j2 = j / c2
          val jL = j % c2
          val e = (r * c1 + iL) * c2 + jL // element (r, iL, jL) of the chunk
          chunks(j1 * n2 + j2) match {
            case null => inner(j) = fillBoxed
            case ls: Array[Long] => inner(j) = box2DLong(m, ls(e))
            case ds: Array[Double] => inner(j) = box2DDouble(m, ds(e))
            case ss: Array[String] =>
              inner(j) = org.apache.spark.unsafe.types.UTF8String
                .fromString(ss(e))
          }
          j += 1
        }
        outer(i) = new GenericArrayData(inner)
        i += 1
      }
      new GenericArrayData(outer)
    }
    Rows2D(rows)
  }

  private def box2DLong(m: ZarrMeta.ArrayMeta, v: Long): Any =
    m.scalarType match {
      case LongType => v
      case IntegerType => v.toInt
      case ShortType => v.toShort
      case ByteType => v.toByte
      case BooleanType => v != 0L
      case _: DecimalType => org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(java.lang.Long.toUnsignedString(v)), 20, 0)
      case _ => v
    }

  private def box2DDouble(m: ZarrMeta.ArrayMeta, v: Double): Any =
    m.scalarType match {
      case DoubleType => v
      case FloatType => v.toFloat
      case _ => v
    }

  private var row = -1

  override def next(): Boolean = { row += 1; row < nRows }

  override def get(): InternalRow = {
    val out = new GenericInternalRow(required.length)
    var c = 0
    while (c < required.length) {
      columns(c) match {
        case AllNull => out.setNullAt(c)
        case Longs(vs, nulls) =>
          if (nulls != null && nulls(row)) out.setNullAt(c)
          else required(c).sparkType match {
            case TimestampType | LongType => out.setLong(c, vs(row))
            case DateType => out.setInt(c, vs(row).toInt) // epoch days
            case IntegerType => out.setInt(c, vs(row).toInt)
            case ShortType => out.setShort(c, vs(row).toShort)
            case ByteType => out.setByte(c, vs(row).toByte)
            case BooleanType => out.setBoolean(c, vs(row) != 0L)
            case _: DecimalType => // u8 opt-in: raw bits → unsigned decimal
              out.update(c, org.apache.spark.sql.types.Decimal(
                new java.math.BigDecimal(
                  java.lang.Long.toUnsignedString(vs(row))), 20, 0))
            case _ => out.update(c, vs(row))
          }
        case Doubles(ds) =>
          val v = ds(row)
          if (v.isNaN) out.setNullAt(c)
          else required(c).sparkType match {
            case DoubleType => out.setDouble(c, v)
            case FloatType => out.setFloat(c, v.toFloat)
            case _ => out.update(c, v)
          }
        case Strs(vs) => out.update(c,
          org.apache.spark.unsafe.types.UTF8String.fromString(vs(row)))
        case Rows2D(rs) => out.update(c, rs(row))
      }
      c += 1
    }
    out
  }

  override def close(): Unit = {}
}
