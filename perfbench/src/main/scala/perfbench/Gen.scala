package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.Pipeline.GrossRange

/** Seeded input generator. Everything a workload reads is written here,
  * before timing starts; the seed changes values, never the size of the
  * work (row counts, chunk grids, site lists and planted sets depend only
  * on the workload shape).
  *
  * Fleet inputs: one consolidated Zarr v2 store per site (time-sorted
  * CF-µs coordinate, NaN runs, one unwritten chunk, planted gross-range
  * fail and suspect values, zlib and blosc codecs), its parquet twin, a
  * `sites.csv` / `variables.csv` pair, profile indices for profiler sites
  * and a previous artifact manifest per launch with a known stale set.
  *
  * Corpus inputs: a base documents/embeddings corpus shaped like the
  * repository's synthetic corpus, grown 10x the way
  * `ScaleGrowthProbe.buildBig` grows it, with a seed-dependent per-copy
  * text suffix.
  *
  * Generation runs no Spark job: stores and parquet files are written
  * directly, on a few threads.
  */
object Gen {

  val DayMicros: Long = 86400L * 1000000L
  private def threads: Int = Runtime.getRuntime.availableProcessors()
  /** First sample of every store: fixed so sizes never depend on the seed. */
  val Epoch: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L

  /** Gross ranges per canonical parameter: (failLo, failHi, suspectLo, suspectHi). */
  val Ranges: Map[String, GrossRange] = Map(
    "temperature" -> GrossRange(-5.0, 35.0, 0.0, 30.0),
    "salinity" -> GrossRange(0.0, 42.0, 30.0, 38.0),
    "velocity_east" -> GrossRange(-3.0, 3.0, -1.0, 1.0),
    "oxygen" -> GrossRange(0.0, 400.0, 50.0, 350.0),
    "irradiance_412" -> GrossRange(-1.0, 300.0, 0.0, 200.0))

  /** Physical variable names per canonical parameter (the reference's
    * variableMap: first match against the store's columns wins).
    */
  val VariableMap: Seq[(String, Seq[String])] = Seq(
    "temperature" -> Seq("sea_water_temperature", "temperature1"),
    "pressure" -> Seq("sea_water_pressure", "int_ctd_pressure"),
    "salinity" -> Seq("sea_water_practical_salinity"),
    "oxygen" -> Seq("dissolved_oxygen"),
    "velocity_east" -> Seq("eastward_sea_water_velocity"),
    "velocity_north" -> Seq("northward_sea_water_velocity"),
    "irradiance_412" -> Seq("spkir_downwelling_vector_412nm"))

  private def physical(canonical: String): String =
    VariableMap.find(_._1 == canonical).get._2.head

  /** An instrument kind: the parameters its store holds, and those its
    * registry row lists (a camera lists none the plot path can resolve).
    */
  sealed abstract class Kind(val tag: String, val instrument: String,
                             val algo: String, val params: Seq[String]) {
    def registryParams: Seq[String] = params
  }
  case object Ctd extends Kind("CTDBPA", "CTD-FIXED", "lttb",
    Seq("temperature", "pressure", "salinity"))
  case object Adcp extends Kind("ADCPTB", "ADCP", "coarsen",
    Seq("velocity_east", "velocity_north"))
  case object Profiler extends Kind("CTDPFA", "CTD-PROFILER", "lttb",
    Seq("temperature", "pressure", "oxygen"))
  case object Cam extends Kind("CAMDSB", "CAM", "lttb", Seq("temperature")) {
    override def registryParams: Seq[String] = Nil
  }
  case object Spkir extends Kind("SPKIRA", "SPKIR", "lttb", Seq("irradiance_412"))

  /** The size of a fleet workload. `kinds` is the site list in plan
    * order; the generator names sites so the registry's sorted order
    * keeps this interleaving.
    */
  final case class FleetShape(kinds: Seq[Kind], storeDays: Int, stepSeconds: Int,
                              chunkRows: Int, spans: Seq[Int], threshold: Int)

  final case class Store(refDes: String, kind: Kind, path: String, twin: String,
                         rows: Int, chunks: Int, bytes: Long, times: Array[Long],
                         chunkRows: Int, profiles: Option[String])

  /** One planned launch's generator-side truth. */
  final case class Expected(site: String, span: Int, chunksNeeded: Int,
                            rowsInWindow: Long, meltedRows: Long,
                            previousManifest: String, stale: Set[String])

  /** A workload's generated inputs. */
  sealed trait Inputs

  final case class FleetData(dir: String, sitesCsv: String, variablesCsv: String,
                         shape: FleetShape, stores: Map[String, Store],
                         timeRef: Timestamp, launches: Seq[Expected], skipped: Int)
      extends Inputs {
    def expected(site: String, span: Int): Expected =
      launches.find(e => e.site == site && e.span == span).get
  }

  final case class CorpusData(dir: String, documents: Long,
                          embeddings: Long, bytes: Long) extends Inputs

  /** A CAM site has no 1-day span and a SPKIRA/OPTAA site only the short
    * ones: the same per-name rule the CLI applies, restated here so the
    * benchmark checks the CLI against an independent count.
    */
  private def skips(kind: Kind, span: Int): Boolean = kind match {
    case Cam => span == 1
    case Spkir => span > 7
    case _ => false
  }

  // ------------------------------------------------------------------ zarr

  private def leL(vs: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putLong); bb.array()
  }

  private def leD(vs: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putDouble); bb.array()
  }

  private def deflate(src: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(1)
    d.setInput(src); d.finish()
    val bos = new java.io.ByteArrayOutputStream(src.length / 2 + 64)
    val buf = new Array[Byte](65536)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    bos.toByteArray
  }

  /** Byte shuffle of one blosc block (typesize-strided planes, leftover
    * bytes verbatim), the transform c-blosc's SHUFFLE flag applies.
    */
  private def shuffle(in: Array[Byte], typesize: Int): Array[Byte] = {
    val n = in.length / typesize
    val out = new Array[Byte](in.length)
    var b = 0
    while (b < typesize) {
      var i = 0
      while (i < n) { out(b * n + i) = in(i * typesize + b); i += 1 }
      b += 1
    }
    System.arraycopy(in, n * typesize, out, n * typesize, in.length - n * typesize)
    out
  }

  /** A c-blosc (format 2) frame with byte shuffle: 16-byte header, int32
    * block starts, then per block an int32 csize and the payload — lz4
    * (codec 1) or zlib (codec 3), stored raw when compression loses.
    */
  private def bloscFrame(raw: Array[Byte], typesize: Int, codec: String): Array[Byte] = {
    val blocksize = math.min(raw.length, 32768)
    val nblocks = (raw.length + blocksize - 1) / blocksize
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().fastCompressor()
    val blocks = (0 until nblocks).map { i =>
      val from = i * blocksize
      val ubs = math.min(blocksize, raw.length - from)
      val sh = shuffle(java.util.Arrays.copyOfRange(raw, from, from + ubs), typesize)
      val comp = if (codec == "lz4") lz4.compress(sh) else deflate(sh)
      if (comp.length < ubs) comp else sh
    }
    val starts = blocks.scanLeft(16 + 4 * nblocks)((off, b) => off + 4 + b.length)
    val bb = ByteBuffer.allocate(starts.last).order(ByteOrder.LITTLE_ENDIAN)
    val codecId = if (codec == "lz4") 1 else 3
    bb.put(2.toByte).put(1.toByte).put((0x1 | (codecId << 5)).toByte).put(typesize.toByte)
    bb.putInt(raw.length).putInt(blocksize).putInt(starts.last)
    starts.init.foreach(bb.putInt)
    blocks.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  private def compressorJson(codec: String): String = codec match {
    case "zlib" => """{"id": "zlib", "level": 1}"""
    case c => s"""{"id": "blosc", "cname": "$c", "clevel": 5, "shuffle": 1, "blocksize": 0}"""
  }

  private def encode(raw: Array[Byte], codec: String): Array[Byte] =
    if (codec == "zlib") deflate(raw) else bloscFrame(raw, 8, codec)

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** Values of one canonical parameter at time `t` (µs) for a site kind. */
  private def signal(kind: Kind, param: String, t: Long, castPressure: Double,
                     rng: SplittableRandom, phase: Double): Double = {
    val day = (t % DayMicros).toDouble / DayMicros
    val tide = math.sin(2 * math.Pi * t.toDouble / (12.42 * 3600e6) + phase)
    def g(s: Double) = s * (rng.nextDouble() - 0.5) * 2
    (kind, param) match {
      case (Profiler, "pressure") => castPressure + g(0.05)
      case (Profiler, "temperature") => 18.0 - 0.05 * castPressure + g(0.2)
      case (Profiler, "oxygen") => 220.0 - 0.4 * castPressure + g(1.0)
      case (_, "temperature") => 10.0 + 4.0 * math.sin(2 * math.Pi * day + phase) + g(0.5)
      case (_, "pressure") => 150.0 + 2.0 * tide + g(0.1)
      case (_, "salinity") => 34.0 + 0.2 * tide + g(0.02)
      case (_, "velocity_east") => 0.2 * tide + g(0.05)
      case (_, "velocity_north") => 0.15 * math.cos(2 * math.Pi * t.toDouble / (12.42 * 3600e6)) + g(0.05)
      case (_, "irradiance_412") => math.max(0.0, 50.0 * math.sin(math.Pi * day)) + g(1.0)
      case (_, other) => sys.error(s"no signal for $other")
    }
  }

  /** Profiler casts: 9 a day, each rising from 200 dbar to 5 dbar
    * between `start` and `peak` and sinking back by `end`; parked at
    * depth in between. Returns (start, peak, end) per cast.
    */
  private def casts(t0: Long, days: Int): Seq[(Long, Long, Long)] = {
    val period = DayMicros / 9
    (0 until days * 9).map { k =>
      val start = t0 + k * period + 5L * 60000000L
      (start, start + 65L * 60000000L, start + 130L * 60000000L)
    }
  }

  private def castPressure(t: Long, cs: Array[(Long, Long, Long)]): Double = {
    val k = ((t - Epoch) / (DayMicros / 9)).toInt
    if (k < 0 || k >= cs.length) 200.0
    else {
      val (s, p, e) = cs(k)
      if (t >= s && t <= p) 200.0 - 195.0 * (t - s).toDouble / (p - s)
      else if (t > p && t <= e) 5.0 + 195.0 * (t - p).toDouble / (e - p)
      else 200.0
    }
  }

  /** Write one site's Zarr store and its parquet twin. */
  private def writeStore(dir: String, refDes: String, kind: Kind,
                         shape: FleetShape, seed: Long, siteIdx: Int): Store = {
    val rng = new SplittableRandom(seed * 1000003L + siteIdx)
    val step = shape.stepSeconds * 1000000L
    val n = (shape.storeDays.toLong * DayMicros / step).toInt
    val chunk = shape.chunkRows
    val nChunks = (n + chunk - 1) / chunk
    // time-sorted coordinate with seed-dependent sub-step jitter
    val times = Array.tabulate(n)(i => Epoch + i * step + rng.nextLong(step / 4))
    val cs = casts(Epoch, shape.storeDays).toArray
    val phase = rng.nextDouble() * 2 * math.Pi
    val nanRunOffset = rng.nextInt(53)
    val values: Seq[(String, Array[Double])] = kind.params.zipWithIndex.map { case (p, j) =>
      val r = Ranges.get(p)
      p -> Array.tabulate(n) { i =>
        val v = signal(kind, p, times(i), castPressure(times(i), cs), rng, phase)
        if ((i / 37) % 53 == (nanRunOffset + 7 * j) % 53) Double.NaN // NaN runs
        else r match {
          case Some(gr) if i % 997 == 13 => gr.failHi + 5.0 // QARTOD fail
          case Some(gr) if i % 499 == 7 => (gr.susHi + gr.failHi) / 2 // suspect
          case _ => v
        }
      }
    }
    // one data chunk of the last parameter is never written: it reads as
    // its fill value (NaN → null) on both sides
    val missingChunk = nChunks / 2
    val missingArray = physical(kind.params.last)
    val out = Paths.get(dir, "stores", s"$refDes.zarr")
    Files.createDirectories(out)
    def put(arr: String, c: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(out.resolve(arr))
      Files.write(out.resolve(arr).resolve(c.toString), bytes)
    }
    val codecs = Seq("blosc_lz4", "zlib", "blosc_zlib")
    def codecOf(j: Int): String = codecs(j % codecs.length).stripPrefix("blosc_")
    for (c <- 0 until nChunks) {
      val from = c * chunk
      def slice[T](a: Int => T, pad: T)(implicit ct: scala.reflect.ClassTag[T]) =
        Array.tabulate(chunk)(k => if (from + k < n) a(from + k) else pad)
      put("time", c, deflate(leL(slice(times(_), 0L))))
      values.zipWithIndex.foreach { case ((p, vs), j) =>
        val name = physical(p)
        if (!(name == missingArray && c == missingChunk))
          put(name, c, encode(leD(slice(vs(_), Double.NaN)), codecOf(j)))
      }
    }
    val arrays = values.zipWithIndex.map { case ((p, _), j) =>
      s""""${physical(p)}/.zarray": {"shape": [$n], "chunks": [$chunk], "dtype": "<f8",
         "compressor": ${compressorJson(codecOf(j))}, "fill_value": "NaN",
         "order": "C", "filters": null, "zarr_format": 2},
       "${physical(p)}/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]}"""
    }
    val meta = s"""{"metadata": {
      ".zgroup": {"zarr_format": 2},
      ".zattrs": {"refDes": "$refDes"},
      "time/.zarray": {"shape": [$n], "chunks": [$chunk], "dtype": "<i8",
        "compressor": ${compressorJson("zlib")}, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "microseconds since 1970-01-01", "calendar": "proleptic_gregorian"},
      ${arrays.mkString(",\n")}},
      "zarr_consolidated_format": 1}"""
    Files.write(out.resolve(".zmetadata"), meta.getBytes(UTF_8))

    // parquet twin: the same rows, NaN (and the unwritten chunk) as null
    val missingFrom = missingChunk * chunk
    val missingTo = math.min(n, (missingChunk + 1) * chunk)
    val twin = Paths.get(dir, "twins", s"$refDes.parquet").toString
    val twinSchema = "required int64 time (TIMESTAMP(MICROS,true));" +
      values.map { case (p, _) => s"optional double ${physical(p)};" }.mkString
    Parquet.write(s"$twin/part-0.parquet", twinSchema, 0 until n) { (g, i) =>
      g.append("time", times(i))
      values.foreach { case (p, vs) =>
        val gapped = physical(p) == missingArray && i >= missingFrom && i < missingTo
        if (!vs(i).isNaN && !gapped) g.append(physical(p), vs(i))
      }
    }
    val profiles = if (kind == Profiler) {
      val p = Paths.get(dir, "profiles", s"$refDes.parquet").toString
      Parquet.write(s"$p/part-0.parquet",
        Seq("start", "peak", "end").map(c => s"required int64 $c (TIMESTAMP(MICROS,true));").mkString,
        cs.toSeq) { case (g, (st, pk, e)) =>
        g.append("start", st); g.append("peak", pk); g.append("end", e)
      }
      Some(p)
    } else None
    Store(refDes, kind, out.toString, twin, n, nChunks, dirBytes(out), times, chunk, profiles)
  }

  def micros2ts(us: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(us, 1000L))
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** Write a fleet workload's inputs under `dir`. */
  def fleet(dir: String, shape: FleetShape, seed: Long): FleetData = {
    val sites = shape.kinds.zipWithIndex.map { case (k, i) =>
      f"RS${i + 1}%02dSITE-PN${(i % 3) + 1}%02d-${k.tag}1${i + 1}%02d" -> k
    }
    val stores = Par.map(sites.zipWithIndex, threads) { case ((refDes, k), i) =>
      refDes -> writeStore(dir, refDes, k, shape, seed, i)
    }.toMap

    val sitesCsv = Paths.get(dir, "sites.csv")
    val header = "refDes,stage,instrument,storeFile,nearestNeighbors," +
      "dataParameters,depths,depthMinMax,decimationAlgo"
    val lines = sites.zipWithIndex.map { case ((refDes, k), i) =>
      val params = ("time" +: k.registryParams).mkString(",")
      val (depths, mm) =
        if (k == Profiler) ("\"\"\"010,050,100\"\"\"", "\"\"\"0,200\"\"\"") else ("Single", "None")
      s"$refDes,1,${k.instrument},${refDes.toLowerCase}_stream,None," +
        s"\"\"\"$params\"\"\",$depths,$mm,${k.algo}"
    }
    Files.write(sitesCsv, (header +: lines).mkString("\n").getBytes(UTF_8))
    val variablesCsv = Paths.get(dir, "variables.csv")
    Files.write(variablesCsv, ("parameter,variableNames" +: VariableMap.map { case (p, vs) =>
      s"$p,\"\"\"${vs.mkString(",")}\"\"\""
    }).mkString("\n").getBytes(UTF_8))

    // every launch's window ends at the last sample of the shortest store
    val refMicros = stores.values.map(_.times.last).min
    val expected = for {
      span <- shape.spans
      ((refDes, k), li) <- sites.zipWithIndex
      if !skips(k, span)
    } yield {
      val st = stores(refDes)
      val lo = refMicros - span * DayMicros
      val inWin = st.times.count(t => t >= lo && t <= refMicros).toLong
      val needed = (0 until st.chunks).count { c =>
        val first = st.times(c * st.chunkRows)
        val last = st.times(math.min(st.rows, (c + 1) * st.chunkRows) - 1)
        last >= lo && first <= refMicros
      }
      // the previous run wrote every current artifact but the first, plus
      // 1-3 retired ones: those retired names are the stale set
      val current = k.registryParams.map(p => s"${refDes}__$p")
      val stale = (0 until 1 + (li + span) % 3).map(j => s"${refDes}__retired_$j")
      val prev = Paths.get(dir, "manifests", s"$refDes--$span")
      Files.createDirectories(prev)
      Files.write(prev.resolve("part-0.json"),
        (current.drop(1) ++ stale).map(a => s"""{"artifact":"$a"}""").mkString("\n")
          .getBytes(UTF_8))
      Expected(refDes, span, needed, inWin, inWin * k.registryParams.size, prev.toString,
        stale.toSet)
    }
    val skipped = (for (span <- shape.spans; (_, k) <- sites if skips(k, span)) yield 1).sum
    FleetData(dir, sitesCsv.toString, variablesCsv.toString, shape, stores,
      micros2ts(refMicros), expected, skipped)
  }

  /** Full-store read-back: every store must read through the Zarr source
    * exactly as its parquet twin reads (row count and row-hash digest).
    * Returns the stores that differ.
    */
  def storeMismatches(spark: SparkSession, f: FleetData): Seq[String] =
    Par.map(f.stores.values.toSeq.sortBy(_.refDes), threads) { st =>
      val z = spark.read.format("zarr").load(st.path)
      val p = spark.read.parquet(st.twin)
      if (Checks.digest(z, p.columns.toSeq) == Checks.digest(p, p.columns.toSeq)) None
      else Some(st.refDes)
    }.flatten

  // ---------------------------------------------------------------- corpus

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Seq("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh",
    "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  /** Base corpus (documents: doc_id, text, lang, source, n_chars;
    * embeddings: vec_id, unit-norm 64-d float vector, label), then the
    * 10x grown layout: copy c offsets ids by c·10^6, appends a per-copy
    * suffix token to the text and nudges the first embedding component,
    * as `ScaleGrowthProbe.buildBig` does.
    */
  def corpus(dir: String, docs: Int, vecs: Int, copies: Int, seed: Long): CorpusData = {
    val rng = new SplittableRandom(seed * 7919L + 17)
    val docRows = (0 until docs).map { i =>
      val words = 10 + rng.nextInt(91)
      val base = Seq.fill(words)(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
      val text = if (rng.nextInt(20) == 0) base + " dup" else base
      (i.toLong, text, Langs(rng.nextInt(Langs.size)), s"src${i % 20}", text.length.toLong)
    }
    val vecRows = (0 until vecs).map { i =>
      val v = Array.fill(64)(rng.nextDouble() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rng.nextInt(10))
    }
    val grownDir = s"$dir/corpus_10x"
    val suffix = f"s${Math.floorMod(seed, 9000L) + 1000}%d"
    val files = 8
    val docSchema = "required int64 doc_id; optional binary text (STRING); " +
      "optional binary lang (STRING); optional binary source (STRING); optional int64 n_chars;"
    val vecSchema = "required int64 vec_id; optional group embedding (LIST) " +
      "{ repeated group list { optional float element; } } optional int32 label;"
    // copy c of every row, spread over the files like a repartition
    def grown[T](rows: Seq[T]): Seq[Seq[(Int, T)]] = {
      val all = for (c <- 0 until copies; r <- rows) yield (c, r)
      (0 until files).map(f => all.zipWithIndex.collect { case (x, k) if k % files == f => x })
    }
    Par.map(grown(docRows).zipWithIndex, threads) { case (part, f) =>
      Parquet.write(f"$grownDir/documents.parquet/part-$f%05d.parquet", docSchema, part) {
        case (g, (c, (id, text, lang, source, nChars))) =>
          g.append("doc_id", id + c * 1000000L)
          g.append("text", if (c == 0) text else s"$text cpy$c$suffix")
          g.append("lang", lang); g.append("source", source); g.append("n_chars", nChars)
      }
    }
    Par.map(grown(vecRows).zipWithIndex, threads) { case (part, f) =>
      Parquet.write(f"$grownDir/embeddings.parquet/part-$f%05d.parquet", vecSchema, part) {
        case (g, (c, (id, v, label))) =>
          g.append("vec_id", id + c * 1000000L)
          val list = g.addGroup("embedding")
          v.zipWithIndex.foreach { case (x, k) =>
            list.addGroup("list").append("element", if (k == 0 && c > 0) x + (c / 1000.0).toFloat else x)
          }
          g.append("label", label)
      }
    }
    CorpusData(grownDir, docs.toLong * copies, vecs.toLong * copies,
      dirBytes(Paths.get(grownDir)))
  }
}

/** Direct parquet writes (no Spark job), in the shapes Spark and DuckDB
  * read back natively.
  */
object Parquet {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{Path => HPath}
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.schema.MessageTypeParser

  def write[T](file: String, fields: String, rows: Iterable[T])(fill: (Group, T) => Unit): Unit = {
    val schema = MessageTypeParser.parseMessageType(s"message row { $fields }")
    val w = ExampleParquetWriter.builder(new HPath(file)).withConf(new Configuration())
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val factory = new SimpleGroupFactory(schema)
    try rows.foreach { r => val g = factory.newGroup(); fill(g, r); w.write(g) }
    finally w.close()
  }
}
