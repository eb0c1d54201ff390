package graft.sources.zarr

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The Zarr DSv2 source against a spec-faithful fixture store written by
  * [[ZarrFixture]] (Zarr v2 consolidated layout; chunk codecs written to
  * the same public formats the reader decodes: zlib, blosc frames with
  * byte shuffle + zlib/stored blocks, memcpy frames). LZ4 block decode
  * is additionally pinned on a handcrafted sequence (no JVM lz4
  * compressor exists in the container to round-trip against).
  */
class ZarrSourceSpec extends SparkSpec {

  // ---- fixture ------------------------------------------------------------

  private lazy val store: String = ZarrFixture.write()

  test("schema: record-dim columns, coordinate first, CF time decoded") {
    val df = spark.read.format("zarr").load(store)
    df.schema.fieldNames.head shouldBe "time"
    df.schema("time").dataType shouldBe org.apache.spark.sql.types.TimestampType
    df.schema("value").dataType shouldBe org.apache.spark.sql.types.DoubleType
    df.schema("temp").dataType shouldBe org.apache.spark.sql.types.FloatType
    df.schema("flags").dataType shouldBe org.apache.spark.sql.types.IntegerType
    // the 2-D array and the other-dim array are excluded by the 1-D
    // record-dim contract
    df.schema.fieldNames should not contain "matrix"
    df.schema.fieldNames should not contain "depth_axis"
  }

  test("full read: every codec decodes to the planted values") {
    val rows = spark.read.format("zarr").load(store)
      .orderBy("time").collect()
    rows.length shouldBe ZarrFixture.N // partial last chunk truncated
    // time = epoch seconds i*60 (CF "seconds since 1970-01-01")
    rows(0).getTimestamp(0).toInstant.getEpochSecond shouldBe 0L
    rows(7).getTimestamp(0).toInstant.getEpochSecond shouldBe 7 * 60L
    // value (zlib f8): i * 0.5, with NaN → null at i % 97 == 3
    val v5 = rows(5).getDouble(rows(5).fieldIndex("value"))
    v5 shouldBe 2.5
    rows(3).isNullAt(rows(3).fieldIndex("value")) shouldBe true
    // temp (blosc+shuffle+zlib f4): 20 + i * 0.25f
    rows(8).getFloat(rows(8).fieldIndex("temp")) shouldBe 22.0f
    // flags (blosc memcpy i4): i % 7
    rows(10).getInt(rows(10).fieldIndex("flags")) shouldBe 3
    // qc (raw i2): (i % 5).toShort
    rows(6).getShort(rows(6).fieldIndex("qc")) shouldBe 1.toShort
  }

  test("missing chunk yields fill_value runs (NaN fill → null floats)") {
    // ZarrFixture deletes value's chunk 2 (rows 200..299), fill NaN
    val nulls = spark.read.format("zarr").load(store)
      .filter(col("value").isNull).count()
    // 100 missing-chunk rows + the planted i % 97 == 3 NaNs outside it
    val plantedOutside = (0 until ZarrFixture.N)
      .count(i => i % 97 == 3 && (i < 200 || i >= 300))
    nulls shouldBe (100L + plantedOutside)
  }

  test("time filter prunes chunks at planning (partition pruning)") {
    val full = new ZarrScanBuilder(store, "time", ZarrFixture.metas(store))
      .build().toBatch.planInputPartitions().length
    full shouldBe 10 // ceil(950/100)
    // rows 600.. → chunks 6..9 intersect. The default (Auto) qualifies
    // this sorted store for the binary search, whose strict lower floor
    // keeps ONE safe boundary chunk extra (chunk 5 could end at the
    // bound under duplicates); forced-exact pruning keeps exactly 4
    val sb = new ZarrScanBuilder(store, "time", ZarrFixture.metas(store))
    sb.pushFilters(Array(org.apache.spark.sql.sources.GreaterThanOrEqual(
      "time", java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(600 * 60)))))
    val pruned = sb.build().toBatch.planInputPartitions().length
    pruned shouldBe 5
    val sbE = new ZarrScanBuilder(store, "time", ZarrFixture.metas(store),
      sorted = SortedMode.Exact)
    sbE.pushFilters(Array(org.apache.spark.sql.sources.GreaterThanOrEqual(
      "time", java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(600 * 60)))))
    sbE.build().toBatch.planInputPartitions().length shouldBe 4
    // and the end-to-end filtered frame is row-identical to filtering
    // the full scan (the exact predicate stays in the plan)
    // times span 0 .. 949*60 s; 10:00:00 = row 600, chunk boundary
    val lo = lit("1970-01-01 10:00:00").cast("timestamp")
    val viaPush = spark.read.format("zarr").load(store)
      .filter(col("time") >= lo).collect().map(_.toString).sorted
    val viaFull = spark.read.format("zarr").load(store)
      .collect().filter(r => !r.getTimestamp(0).toInstant
        .isBefore(java.time.Instant.parse("1970-01-01T10:00:00Z")))
      .map(_.toString).sorted
    viaPush.toSeq shouldBe viaFull.toSeq
    viaPush should not be empty
  }

  test("a Zarr scan's row bound is its surviving chunks' row count") {
    // rows 600.. as above: chunks 5..9 under Auto, 6..9 exact, of 950 rows
    // in chunks of 100 (the last one 50)
    def bound(mode: SortedMode, fromSecond: Option[Long]) = {
      val sb = new ZarrScanBuilder(store, "time", ZarrFixture.metas(store), sorted = mode)
      fromSecond.foreach(s => sb.pushFilters(Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual(
          "time", java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))))))
      val scan = sb.build()
      (ZarrDataSource.rowUpperBound(scan), scan.toBatch.planInputPartitions().length)
    }
    bound(SortedMode.Auto, None) shouldBe ((Some(950L), 10))
    bound(SortedMode.Auto, Some(600 * 60L)) shouldBe ((Some(450L), 5))
    bound(SortedMode.Exact, Some(600 * 60L)) shouldBe ((Some(350L), 4))
    // through the optimizer: the pruned scan's bound is the leaf's, and
    // Spark sees no statistics from the source
    val plan = spark.read.format("zarr").load(store)
      .filter(col("time") >= lit("1970-01-01 10:00:00").cast("timestamp"))
      .queryExecution.optimizedPlan
    val leaf = plan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation]
    ZarrDataSource.rowUpperBound(leaf.scan) shouldBe Some(450L)
    leaf.stats.rowCount shouldBe None
    leaf.stats.sizeInBytes shouldBe BigInt(spark.sessionState.conf.defaultSizeInBytes)
  }

  test("sortedCoord binary-search pruning matches the exact full-scan pruning") {
    def partsFor(sorted: Boolean, lo: Long, hi: Long): Seq[Long] = {
      val sb = new ZarrScanBuilder(store, "time", ZarrFixture.metas(store),
        sorted = if (sorted) SortedMode.Forced else SortedMode.Exact)
      sb.pushFilters(Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("time",
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(lo))),
        org.apache.spark.sql.sources.LessThanOrEqual("time",
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(hi)))))
      sb.build().toBatch.planInputPartitions().toSeq
        .map(_.asInstanceOf[ZarrInputPartition].chunk)
    }
    // spans: inside one chunk, across chunks, chunk-boundary-exact,
    // before-all, after-all, everything
    val spans = Seq((130L * 60, 180L * 60), (90L * 60, 610L * 60),
      (100L * 60, 200L * 60), (-500L, -10L),
      (100000L * 60, 200000L * 60), (0L, 949L * 60))
    // sorted pruning sees only chunk FIRST values, so it may keep ONE
    // extra chunk at each boundary (duplicates could span it) — a safe
    // superset of the exact per-chunk min/max pruning, never a subset
    for ((lo, hi) <- spans)
      withClue(s"span [$lo, $hi]: ") {
        val viaSort = partsFor(sorted = true, lo, hi)
        val viaExact = partsFor(sorted = false, lo, hi)
        viaExact.toSet.subsetOf(viaSort.toSet) shouldBe true
        viaSort.size should be <= (viaExact.size + 2)
      }
    // and the sorted path reads only O(log n) coordinate chunks while
    // producing the same row set end to end
    val viaSorted = spark.read.format("zarr").option("sortedCoord", "true")
      .load(store)
      .filter(col("time") >= lit("1970-01-01 02:00:00").cast("timestamp"))
      .collect().map(_.toString).sorted.toSeq
    val viaExact = spark.read.format("zarr").load(store)
      .filter(col("time") >= lit("1970-01-01 02:00:00").cast("timestamp"))
      .collect().map(_.toString).sorted.toSeq
    viaSorted shouldBe viaExact
    viaSorted should not be empty
  }

  test("sortedCoord pruning keeps the boundary chunk when duplicates span it") {
    // a store whose coordinate REPEATS across a chunk boundary: chunk 0 =
    // [0..8, 10], chunk 1 = [10, 10, 12..] — a >= 10*60-style filter must
    // keep chunk 0 (its last rows equal the bound)
    val dir = ZarrFixture.writeDupBoundary()
    val sb = new ZarrScanBuilder(dir, "time", ZarrFixture.metas(dir),
      sorted = SortedMode.Forced)
    sb.pushFilters(Array(org.apache.spark.sql.sources.GreaterThanOrEqual(
      "time", java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(10)))))
    val kept = sb.build().toBatch.planInputPartitions().toSeq
      .map(_.asInstanceOf[ZarrInputPartition].chunk)
    kept should contain(0L) // the strict-floor rule: chunk 0 ends AT the bound
    val rows = spark.read.format("zarr").option("sortedCoord", "true")
      .load(dir)
      .filter(col("time") >= lit("1970-01-01 00:00:10").cast("timestamp"))
      .count()
    rows shouldBe 8 // the two trailing 10s in chunk 0 + all 6 of chunk 1
  }

  test("column pruning reaches the scan (unread arrays never open)") {
    val df = spark.read.format("zarr").load(store).select("value")
    val scan = df.queryExecution.executedPlan.toString
    scan should include("cols=value")
    df.agg(sum("value")).collect()(0).getDouble(0) should be > 0.0
    // count(*) → empty projection still counts every row
    spark.read.format("zarr").load(store).count() shouldBe ZarrFixture.N.toLong
  }

  // ---- codec units --------------------------------------------------------

  test("lz4 block decode: handcrafted sequence with an overlapping match") {
    // token 0x44: 4 literals "ABCD", match len 4+4=8 at offset 4
    // → "ABCD" + 8 bytes repeating the 4-byte window = "ABCDABCDABCD"
    val block = Array[Byte](0x44, 'A', 'B', 'C', 'D', 0x04, 0x00)
    val out = ZarrMeta.lz4Decompress(block, 0, block.length, 12)
    new String(out) shouldBe "ABCDABCDABCD"
    // offset 1 = RLE byte run (overlap smaller than match length)
    val rle = Array[Byte](0x1F, 'x', 0x01, 0x00, 60)
    new String(ZarrMeta.lz4Decompress(rle, 0, rle.length, 80)) shouldBe "x" * 80
  }

  test("per-variable chunking is rejected at load, not silently misaligned") {
    // chunk 1 of a 200-chunked value holds rows 200-399, not the
    // coordinate's rows 100-199: reading it positionally would emit
    // wrong values with no error — load must refuse
    val dir = ZarrFixture.writeHeteroChunks()
    val e = intercept[Exception] {
      spark.read.format("zarr").load(dir).collect()
    }
    e.getMessage should include("chunked")
  }

  test("large int64 values and CF NaN gaps survive the reader exactly") {
    val dir = ZarrFixture.writeEdgeStore()
    val rows = spark.read.format("zarr").load(dir).orderBy("big_id").collect()
    rows.length shouldBe 6
    // big_id holds 2^61 + i·p — far past double's 2^53; a double leg
    // would corrupt the low bits silently
    val bigIdx = rows(0).fieldIndex("big_id")
    rows.map(_.getLong(bigIdx)).toSeq shouldBe
      (0 until 6).map(i => (1L << 61) + 1000000007L * i)
    // time is float CF seconds with a NaN gap at row 3: null timestamp
    // (NaT), NOT the epoch
    val tIdx = rows(0).fieldIndex("time")
    rows.count(_.isNullAt(tIdx)) shouldBe 1
    rows(3).isNullAt(tIdx) shouldBe true
    // int64 nanosecond column decodes to exact micros
    val nsIdx = rows(0).fieldIndex("t_ns")
    val inst = rows(0).getTimestamp(nsIdx).toInstant
    (inst.getEpochSecond * 1000000L + inst.getNano / 1000L) shouldBe
      1700000000123456L // floor(1700000000123456789 ns / 1000)
  }

  test("a NaN-first coordinate chunk makes sortedCoord fall back, not mis-prune") {
    val dir = ZarrFixture.writeNaNFirst()
    // chunk 1 starts with a NaN gap marker: the binary search cannot
    // trust first values, so pruning falls back to the exact per-chunk
    // min/max scan — the filtered frame stays row-identical
    val lo = lit("1970-01-01 00:00:05").cast("timestamp")
    def rows(sorted: Boolean) = spark.read.format("zarr")
      .option("sortedCoord", sorted.toString).load(dir)
      .filter(col("time") >= lo).collect().map(_.toString).sorted.toSeq
    rows(sorted = true) shouldBe rows(sorted = false)
    rows(sorted = true).size shouldBe 3 // times 5, 6, 7 (NaN row excluded)
  }

  test("string fill_value encodings: Infinity fills read back as ±inf, not null") {
    val meta = ZarrMeta.parseArray("x",
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"shape": [4], "chunks": [4], "dtype": "<f8",
            "compressor": null, "fill_value": "Infinity", "order": "C"}"""),
      new com.fasterxml.jackson.databind.ObjectMapper().readTree("{}")).get
    meta.fillValue shouldBe Some(Double.PositiveInfinity)
    ZarrMeta.parseArray("x",
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        """{"shape": [4], "chunks": [4], "dtype": "<f8",
            "compressor": null, "fill_value": "NaN", "order": "C"}"""),
      new com.fasterxml.jackson.databind.ObjectMapper().readTree("{}"))
      .get.fillValue.get.isNaN shouldBe true
  }

  test("int64 nanosecond CF times decode exactly (no double round-trip)") {
    // 2023-11-14T22:13:20.123456789 as int64 ns since epoch ≈ 1.7e18 —
    // past double's 2^53: the double path is off by up to ±256 ns,
    // which rounds to a ±1 µs timestamp error
    val ns = 1700000000L * 1000000000L + 123456789L
    val exact = ZarrMeta.cfToMicrosLong(ns, 1e-3, 0L)
    exact shouldBe 1700000000123456L // floor to micros, xarray's cast
    // and the double path is demonstrably lossy here — the reason the
    // reader branches on the dtype
    val viaDouble = ZarrMeta.cfToMicros(ns.toDouble, 1e-3, 0L)
    math.abs(viaDouble - exact) should be <= 1L // close, not trusted
    // seconds-scale longs are exact on both paths
    ZarrMeta.cfToMicrosLong(7L, 1e6, 0L) shouldBe 7000000L
  }

  test("randomized codec round-trip: every frame shape decodes to the planted bytes") {
    // 120 random (payload, typesize, blocksize, codec, shuffle) frames,
    // deterministic seed — the writer follows the public specs, the
    // reader must invert every combination incl. padded last blocks,
    // incompressible (stored) blocks, and sub-typesize tails
    val rnd = new scala.util.Random(42)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def meta(comp: String, n: Int): ZarrMeta.ArrayMeta = ZarrMeta.parseArray("x",
      mapper.readTree(s"""{"shape": [$n], "chunks": [$n], "dtype": "<u1",
        "compressor": $comp, "fill_value": 0, "order": "C"}"""),
      mapper.readTree("{}")).get
    for (i <- 0 until 120) {
      val n = 1 + rnd.nextInt(3000)
      val payload = new Array[Byte](n)
      // mix compressible runs and incompressible noise
      if (i % 3 == 0) rnd.nextBytes(payload)
      else java.util.Arrays.fill(payload, (i % 7).toByte)
      val typesize = Seq(1, 2, 4, 8)(rnd.nextInt(4))
      val blocksize = math.max(typesize, 1 + rnd.nextInt(n + 64))
      val (frame, comp) = rnd.nextInt(8) match {
        case 0 => (ZarrFixture.bloscFrame(payload, typesize, codecId = 3,
          shuffle = rnd.nextBoolean(), blocksize = blocksize,
          deflateBlocks = true),
          """{"id": "blosc", "cname": "zlib"}""")
        case 1 => (ZarrFixture.bloscFrame(payload, typesize, codecId = 1,
          shuffle = rnd.nextBoolean(), blocksize = blocksize,
          forceStored = true),
          """{"id": "blosc", "cname": "lz4"}""")
        case 2 => (ZarrFixture.bloscFrame(payload, typesize, codecId = 1,
          shuffle = false, blocksize = blocksize, memcpy = true),
          """{"id": "blosc", "cname": "lz4"}""")
        case 3 => (ZarrFixture.bloscFrame(payload, typesize, codecId = 4,
          shuffle = rnd.nextBoolean(), blocksize = blocksize,
          blockCompress = ZarrFixture.zstdBytes),
          """{"id": "blosc", "cname": "zstd"}""")
        case 4 => (ZarrFixture.bloscFrame(payload, typesize, codecId = 2,
          shuffle = rnd.nextBoolean(), blocksize = blocksize,
          blockCompress = ZarrFixture.snappyBytes),
          """{"id": "blosc", "cname": "snappy"}""")
        case 5 => (ZarrFixture.bloscFrame(payload, typesize, codecId = 1,
          shuffle = rnd.nextBoolean(), blocksize = blocksize,
          blockCompress = ZarrFixture.lz4Block),
          """{"id": "blosc", "cname": "lz4"}""")
        case 6 => (ZarrFixture.numcodecsLz4(payload), """{"id": "lz4"}""")
        case _ => (ZarrFixture.deflateBytes(payload), """{"id": "zlib"}""")
      }
      withClue(s"case $i (n=$n, typesize=$typesize, blocksize=$blocksize): ") {
        ZarrMeta.decodeChunk(meta(comp, n), frame).toSeq shouldBe payload.toSeq
      }
    }
  }

  test("fixed-width string dtypes (|S, <U) decode as trimmed StringType columns") {
    val dir = ZarrFixture.writeStrings()
    val df = spark.read.format("zarr").load(dir)
    df.schema("frame_type").dataType shouldBe org.apache.spark.sql.types.StringType
    df.schema("tag").dataType shouldBe org.apache.spark.sql.types.StringType
    val rows = df.orderBy("time").collect()
    rows.length shouldBe 6
    // |S6, NUL-padded on disk — trimmed like xarray
    rows.map(_.getString(rows(0).fieldIndex("frame_type"))).toSeq shouldBe
      Seq("LIGHT", "DARK", "LIGHT", "", "LIGHT", "DARK")
    // <U4 is UTF-32-LE code points; non-ASCII survives
    rows(0).getString(rows(0).fieldIndex("tag")) shouldBe "aé1"
    rows(1).getString(rows(0).fieldIndex("tag")) shouldBe "øk"
    // frame_type chunk 1 (rows 4..5) exists; tag's chunk 1 is MISSING
    // with fill "na" → a fill run, not nulls
    rows(4).getString(rows(0).fieldIndex("tag")) shouldBe "na"
    rows(5).getString(rows(0).fieldIndex("tag")) shouldBe "na"
    // and the SQL surface consumes them natively (frame_type gates the
    // SUNA light-frame fit — calculateFunctions.py:322-324)
    df.filter(col("frame_type") === "LIGHT").count() shouldBe 3
  }

  test("big-endian dtypes (>f8 >i8 >i2 >u2 >U) decode exactly like their LE twins") {
    val dir = ZarrFixture.writeBigEndian()
    val df = spark.read.format("zarr").load(dir)
    import org.apache.spark.sql.types._
    df.schema("time").dataType shouldBe TimestampType // >i8 CF seconds
    df.schema("temp").dataType shouldBe DoubleType
    df.schema("depth").dataType shouldBe ShortType
    df.schema("count16").dataType shouldBe IntegerType // >u2 widened
    df.schema("tag").dataType shouldBe StringType      // >U3: UTF-32-BE
    val rows = df.orderBy("time").collect()
    rows.length shouldBe 6
    def at[T](r: Int, c: String): T = rows(r).getAs[T](rows(r).fieldIndex(c))
    at[Double](0, "temp") shouldBe 1.5
    at[Double](5, "temp") shouldBe -273.25
    // BE NaN bit pattern decodes and, matching the fill, nulls out —
    // the same NaN-fill → null contract the LE fixtures pin
    rows(2).isNullAt(rows(2).fieldIndex("temp")) shouldBe true
    (0 until 6).map(i => at[Short](i, "depth")) shouldBe
      Seq[Short](-5, 0, 7, 300, -300, 32000)
    at[Int](0, "count16") shouldBe 65535 // past Short.MaxValue, BE bytes
    at[String](0, "tag") shouldBe "aé1"  // non-ASCII UTF-32-BE code points
    at[String](1, "tag") shouldBe "øk"
    // time pruning works on a BE coordinate (the auto sorted-probe
    // decodes first/last chunks through the same BE path)
    df.filter(col("time") >= java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(4))).count() shouldBe 2
  }

  test("a blosc block decoding to the wrong length fails loudly") {
    // header declares nbytes=8 / blocksize=8 (one block) but the zlib
    // payload inflates to 9 bytes — corrupt data must raise, never
    // truncate silently
    val nine = Array.tabulate[Byte](9)(_.toByte)
    val comp = ZarrFixture.deflateBytes(nine)
    val bb = ByteBuffer.allocate(16 + 4 + 4 + comp.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(2.toByte).put(1.toByte).put((3 << 5).toByte).put(1.toByte)
    bb.putInt(8).putInt(8).putInt(bb.capacity()) // nbytes, blocksize, cbytes
    bb.putInt(20)              // block 0 offset (16 header + 4 start)
    bb.putInt(comp.length)     // csize (< ubs → codec path)
    bb.put(comp)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = ZarrMeta.parseArray("x",
      mapper.readTree("""{"shape": [8], "chunks": [8], "dtype": "<u1",
        "compressor": {"id": "blosc", "cname": "zlib"}, "fill_value": 0,
        "order": "C", "filters": null}"""),
      mapper.readTree("{}")).get
    val e = intercept[IllegalArgumentException] {
      ZarrMeta.decodeChunk(meta, bb.array())
    }
    e.getMessage should include("decoded 9 bytes, expected 8")
  }

  test("unsupported filter chains are rejected at parse, never silently misdecoded") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // an UNIMPLEMENTED filter id (packbits bit-packs bools) must
    // reject — ignoring it would decode wrong values
    val e = intercept[IllegalArgumentException] {
      ZarrMeta.parseArray("x",
        mapper.readTree("""{"shape": [4], "chunks": [4], "dtype": "|b1",
          "compressor": null, "fill_value": 0, "order": "C",
          "filters": [{"id": "packbits"}]}"""),
        mapper.readTree("{}"))
    }
    e.getMessage should include("unsupported filter 'packbits'")
    // a SUPPORTED filter whose declared dtype contradicts the array
    // dtype is wrong metadata — loud, not a silent misdecode
    val e2 = intercept[IllegalArgumentException] {
      ZarrMeta.parseArray("x",
        mapper.readTree("""{"shape": [4], "chunks": [4], "dtype": "<f8",
          "compressor": null, "fill_value": 0, "order": "C",
          "filters": [{"id": "delta", "dtype": "<i4"}]}"""),
        mapper.readTree("{}"))
    }
    e2.getMessage should include("declares dtype '<i4'")
    // a filter dtype outside the numeric kinds rejects too (delta on a
    // string dtype has no defined arithmetic)
    val e3 = intercept[IllegalArgumentException] {
      ZarrMeta.parseArray("x",
        mapper.readTree("""{"shape": [4], "chunks": [4], "dtype": "|S4",
          "compressor": null, "fill_value": null, "order": "C",
          "filters": [{"id": "delta", "dtype": "|S4"}]}"""),
        mapper.readTree("{}"))
    }
    e3.getMessage should include("not a fixed-width numeric dtype")
    // null and [] filters stay accepted (python-zarr writes null)
    ZarrMeta.parseArray("x",
      mapper.readTree("""{"shape": [4], "chunks": [4], "dtype": "<f8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null}"""),
      mapper.readTree("{}")).isDefined shouldBe true
  }

  test("zstd / snappy / numcodecs-lz4 codecs decode real compressor output") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def meta(comp: String, n: Int): ZarrMeta.ArrayMeta = ZarrMeta.parseArray("x",
      mapper.readTree(s"""{"shape": [$n], "chunks": [$n], "dtype": "<u1",
        "compressor": $comp, "fill_value": 0, "order": "C"}"""),
      mapper.readTree("{}")).get
    val rnd = new scala.util.Random(7)
    val payloads = Seq(
      Array.fill[Byte](1000)(42),              // compressible run
      { val a = new Array[Byte](997); rnd.nextBytes(a); a }, // noise
      Array.tabulate[Byte](2048)(i => (i % 13).toByte))
    for (p <- payloads) {
      // standalone zstd (numcodecs Zstd writes standard frames)
      ZarrMeta.decodeChunk(meta("""{"id": "zstd", "level": 3}""", p.length),
        ZarrFixture.zstdBytes(p)).toSeq shouldBe p.toSeq
      // standalone numcodecs LZ4 (size prefix + block): the pure-JVM
      // lz4 decoder inverting a REAL lz4 compressor's block
      ZarrMeta.decodeChunk(meta("""{"id": "lz4"}""", p.length),
        ZarrFixture.numcodecsLz4(p)).toSeq shouldBe p.toSeq
      // blosc with zstd blocks (format code 4) + byte shuffle
      ZarrMeta.decodeChunk(meta("""{"id": "blosc", "cname": "zstd"}""", p.length),
        ZarrFixture.bloscFrame(p, typesize = 4, codecId = 4, shuffle = true,
          blocksize = 512, blockCompress = ZarrFixture.zstdBytes))
        .toSeq shouldBe p.toSeq
      // blosc with snappy blocks (format code 2)
      ZarrMeta.decodeChunk(meta("""{"id": "blosc", "cname": "snappy"}""", p.length),
        ZarrFixture.bloscFrame(p, typesize = 2, codecId = 2, shuffle = false,
          blocksize = 700, blockCompress = ZarrFixture.snappyBytes))
        .toSeq shouldBe p.toSeq
      // blosc with lz4-java-compressed blocks through the pure decoder
      ZarrMeta.decodeChunk(meta("""{"id": "blosc", "cname": "lz4"}""", p.length),
        ZarrFixture.bloscFrame(p, typesize = 8, codecId = 1, shuffle = true,
          blocksize = 256, blockCompress = ZarrFixture.lz4Block))
        .toSeq shouldBe p.toSeq
    }
    // a truncated lz4 size header fails loudly
    val e = intercept[Exception] {
      ZarrMeta.decodeChunk(meta("""{"id": "lz4"}""", 8), Array[Byte](1, 2))
    }
    e.getMessage should include("size header")
  }

  test("byte unshuffle inverts shuffle, leftover tail kept in place") {
    val raw = Array.tabulate[Byte](35)(i => (i * 7 + 3).toByte) // 35 = 4*8+3
    ZarrMeta.unshuffle(ZarrFixture.shuffle(raw, 4), 4).toSeq shouldBe raw.toSeq
    ZarrMeta.unshuffle(ZarrFixture.shuffle(raw, 8), 8).toSeq shouldBe raw.toSeq
  }

  // ---- round-13: Hadoop FS seam, lenient CF epochs, 2-D arrays ------------

  test("file:// URIs read through the Hadoop FileSystem seam") {
    // the same store via an explicit scheme — the one-seam IO contract
    // that makes s3a:// stores work (ZarrIO resolves the FS per scheme)
    val viaUri = spark.read.format("zarr").load("file://" + store)
      .orderBy("time").collect()
    viaUri.length shouldBe ZarrFixture.N
    viaUri(7).getTimestamp(0).toInstant.getEpochSecond shouldBe 7 * 60L
  }

  test("the reader factory carries a broadcast handle, not the Hadoop conf") {
    // every task deserializes the factory: a session's Hadoop conf
    // inline is over 100 KB, the broadcast handle plus the array metas
    // about 3 KB. The scan broadcasts through the active session: start
    // it first
    spark.sparkContext.isStopped shouldBe false
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", store))
    val factory = ZarrTable.load(opts).newScanBuilder(opts).build().toBatch
      .createReaderFactory()
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    try out.writeObject(factory) finally out.close()
    bytes.size should be < 16 * 1024
  }

  test("session Hadoop settings reach executor-side chunk reads") {
    // the test scheme exists only in the session conf: the executors'
    // chunk reads resolve it only if the scan ships that conf, not the
    // context's base Hadoop conf
    val keys = Seq(
      s"fs.${SchemeLocalFileSystem.Scheme}.impl" -> classOf[SchemeLocalFileSystem].getName,
      s"fs.${SchemeLocalFileSystem.Scheme}.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val viaScheme = spark.read.format("zarr")
        .load(s"${SchemeLocalFileSystem.Scheme}://$store").orderBy("time").collect()
      val plain = spark.read.format("zarr").load(store).orderBy("time").collect()
      viaScheme.length shouldBe ZarrFixture.N
      viaScheme.toSeq shouldBe plain.toSeq
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test(".zmetadata parses once per (store, mtime): repeat loads hit the cache") {
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", store))
    val t1 = ZarrTable.load(opts)
    val t2 = ZarrTable.load(opts)
    t2 should be theSameInstanceAs t1
  }

  test("CF epochs: cftime's lenient grammar (single-digit fields, offsets, UTC)") {
    def micros(s: String): Long = ZarrMeta.cfTime(s)._2
    def expect(iso: String): Long = {
      val i = java.time.Instant.parse(iso)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    // single-digit date/time fields (ADVICE r12)
    micros("seconds since 1992-10-8 15:15:42") shouldBe expect("1992-10-08T15:15:42Z")
    micros("hours since 2000-1-1 0:0:0") shouldBe expect("2000-01-01T00:00:00Z")
    // UTC offsets, incl. single-digit hours and a space before the offset
    micros("seconds since 1970-01-01 01:00:00 +01:00") shouldBe 0L
    micros("seconds since 1970-01-01T00:00:00-05:00") shouldBe expect("1970-01-01T05:00:00Z")
    micros("hours since 2000-1-1 0:0:0 -6:00") shouldBe expect("2000-01-01T06:00:00Z")
    micros("seconds since 1970-01-01 00:00:00+0530") shouldBe expect("1969-12-31T18:30:00Z")
    // "UTC" suffix and fractional seconds
    micros("seconds since 1970-01-01 00:00:00 UTC") shouldBe 0L
    micros("seconds since 1970-01-01T00:00:00.5Z") shouldBe 500000L
    // pre-1970 epochs stay exact (negative micros)
    micros("days since 1900-01-01") shouldBe expect("1900-01-01T00:00:00Z")
    // malformed spellings fail with the grammar in the message
    val e = intercept[IllegalArgumentException] {
      micros("seconds since 1970/01/01")
    }
    e.getMessage should include("grammar")
  }

  test("a store whose CF epoch carries a UTC offset decodes like xarray") {
    val dir = ZarrFixture.writeOffsetEpoch()
    val rows = spark.read.format("zarr").load(dir).orderBy("time").collect()
    // units "seconds since 1970-01-01 01:00:00 -01:00": epoch = 02:00 UTC
    rows(0).getTimestamp(0).toInstant shouldBe
      java.time.Instant.parse("1970-01-01T02:00:00Z")
    rows(3).getTimestamp(0).toInstant shouldBe
      java.time.Instant.parse("1970-01-01T02:00:03Z")
  }

  test("2-D (record × extra) arrays surface as ArrayType columns") {
    val dir = ZarrFixture.write2D()
    val df = spark.read.format("zarr").load(dir)
    df.schema.fieldNames.toSeq shouldBe Seq("time", "absorb", "spec_counts")
    df.schema("absorb").dataType shouldBe
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false)
    df.schema("spec_counts").dataType shouldBe
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false)
    val rows = df.orderBy("time").collect()
    rows.length shouldBe 10
    // absorb row 0: [0.0, 0.1, .., 0.4]; NaN ELEMENT stays NaN (the
    // array is the value — xarray parity for spectra)
    val a0 = rows(0).getSeq[Double](1)
    a0.length shouldBe 5
    a0(3) shouldBe (0 + 3 * 0.1) // bit-exact vs the fixture's own arithmetic
    rows(2).getSeq[Double](1)(1).isNaN shouldBe true
    // record chunk 1 of absorb is MISSING → fill_value (NaN) arrays for
    // rows 4..7
    (4 to 7).foreach { r =>
      all(rows(r).getSeq[Double](1)) should not be 0.0
      rows(r).getSeq[Double](1).forall(_.isNaN) shouldBe true
    }
    // spec_counts is chunked in the TRAILING dim too (widths 2+1):
    // stitching must cross the col-chunk edge
    rows(7).getSeq[Int](2) shouldBe Seq(70, 71, 72)
    rows(9).getSeq[Int](2) shouldBe Seq(90, 91, 92)
    // time filters still prune record chunks with 2-D columns riding along
    val filtered = df.filter(col("time") >=
      lit("1970-01-01 00:00:08").cast("timestamp"))
    filtered.count() shouldBe 2
    filtered.orderBy("time").collect()(0).getSeq[Int](2) shouldBe Seq(80, 81, 82)
    // q43's spectral expressions consume these arrays unchanged
    // (bandRatio over the OPTAA-shaped absorb column)
    val ratio = df.filter(col("time") <
        lit("1970-01-01 00:00:02").cast("timestamp"))
      .select(graft.functions.Spectral.bandRatio(col("absorb"), 4, 0).as("r"))
      .orderBy("r").collect()
    ratio.length shouldBe 2
    ratio(1).getDouble(0) shouldBe (1.4 / 1.0) +- 1e-12
  }

  test("a CF-looking units attr on a 2-D array does NOT trigger time decode") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val m = ZarrMeta.parseArray("x",
      mapper.readTree("""{"shape": [4, 3], "chunks": [2, 3], "dtype": "<f8",
        "compressor": null, "fill_value": "NaN", "order": "C"}"""),
      mapper.readTree("""{"_ARRAY_DIMENSIONS": ["time", "wavelength"],
        "units": "seconds since 1970-01-01"}""")).get
    m.is2D shouldBe true
    m.isCfTime shouldBe false
    m.sparkType shouldBe org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = false)
  }

  test("zlib streams that stall (preset dictionary) fail loudly, never hang") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = ZarrMeta.parseArray("x",
      mapper.readTree("""{"shape": [1], "chunks": [1], "dtype": "<u1",
        "compressor": {"id": "zlib"}, "fill_value": 0, "order": "C"}"""),
      mapper.readTree("{}")).get
    val dict = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    val d = new java.util.zip.Deflater()
    d.setDictionary(dict)
    d.setInput("the quick brown fox".getBytes("UTF-8")); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    val e = intercept[java.io.IOException] {
      ZarrMeta.decodeChunk(meta, out.toByteArray)
    }
    e.getMessage should include("dictionary")
  }

  test("unsupported inner codecs fail loudly, never return wrong bytes") {
    val meta = ZarrFixture.metas(store).find(_.name == "temp").get
    // a blosc frame claiming codec id 5 (out of the c-blosc format
    // range), non-memcpy; all-zero payload so the deflated block is
    // genuinely SMALLER than raw (csize != ubs → the codec path)
    val frame = ZarrFixture.bloscFrame(
      new Array[Byte](32), typesize = 4, codecId = 5,
      shuffle = false, blocksize = 32, forceStored = false,
      deflateBlocks = true)
    val e = intercept[IllegalArgumentException] {
      ZarrMeta.decodeChunk(meta.copy(name = "x", shape = 8, chunk = 8), frame)
    }
    e.getMessage should include("codec id 5")
  }

  // ---- round-14: blosclz, vlen-utf8, widened dtypes, auto pruning ---------

  test("blosclz: handcrafted token streams decode per the c-blosc format") {
    // literal-only: one token (run length − 1), then the bytes
    val lit = Array[Byte](4, 'h', 'e', 'l', 'l', 'o')
    new String(ZarrMeta.blosclzDecompress(lit, 0, lit.length, 5)) shouldBe "hello"
    // RLE via a distance-1 match: 1 literal 'x', then copy 60 from d−1.
    // Length code 7 (0xE0) → len = 6 + ext + 3; ext = 51 → 60; code
    // byte 0 → distance (0<<8)+0+1 = 1
    val rle = Array[Byte](0, 'x', 0xE0.toByte, 51, 0)
    new String(ZarrMeta.blosclzDecompress(rle, 0, rle.length, 61)) shouldBe "x" * 61
    // short match: 4 literals "ABCD", then ctrl 0x40 (length code 2 →
    // copy (2−1)+3 = 4), code 3 → distance 4 → "ABCDABCD"
    val m = Array[Byte](3, 'A', 'B', 'C', 'D', 0x40, 3)
    new String(ZarrMeta.blosclzDecompress(m, 0, m.length, 8)) shouldBe "ABCDABCD"
    // 255-terminated length extension: ext bytes [255, 0] → len =
    // 6 + 255 + 0 + 3 = 264
    val ext = Array[Byte](0, 'y', 0xE0.toByte, 0xFF.toByte, 0, 0)
    new String(ZarrMeta.blosclzDecompress(ext, 0, ext.length, 265)) shouldBe "y" * 265
  }

  test("blosclz: far match (16-bit offset past 8191) reaches back exactly") {
    // 8193 literal bytes, then a far match: ctrl 0x7F (length code 3,
    // distance-high 31), code byte 255 triggers the far path, then the
    // BIG-endian offset [0, 1] → distance 1 + 8192 = 8193, copy 5 bytes
    // from the stream start
    val payload = Array.tabulate[Byte](8193)(i => (i % 251).toByte)
    val bos = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < payload.length) {
      val run = math.min(32, payload.length - off)
      bos.write(run - 1)
      bos.write(payload, off, run)
      off += run
    }
    bos.write(0x7F); bos.write(0xFF); bos.write(0); bos.write(1)
    val src = bos.toByteArray
    val out = ZarrMeta.blosclzDecompress(src, 0, src.length, 8198)
    out.take(8193).toSeq shouldBe payload.toSeq
    out.slice(8193, 8198).toSeq shouldBe payload.take(5).toSeq
  }

  test("blosclz: blosc frames with blosclz blocks round-trip through decodeChunk") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def meta(n: Int): ZarrMeta.ArrayMeta = ZarrMeta.parseArray("x",
      mapper.readTree(s"""{"shape": [$n], "chunks": [$n], "dtype": "<u1",
        "compressor": {"id": "blosc", "cname": "blosclz"}, "fill_value": 0,
        "order": "C"}"""),
      mapper.readTree("{}")).get
    val rnd = new scala.util.Random(99)
    for (i <- 0 until 40) {
      val n = 1 + rnd.nextInt(2000)
      val payload = new Array[Byte](n)
      if (i % 3 == 0) rnd.nextBytes(payload)
      else {
        // runs the test-side compressor turns into RLE matches
        var p = 0
        while (p < n) {
          val run = math.min(1 + rnd.nextInt(200), n - p)
          java.util.Arrays.fill(payload, p, p + run, rnd.nextInt(5).toByte)
          p += run
        }
      }
      val typesize = Seq(1, 2, 4, 8)(rnd.nextInt(4))
      val blocksize = math.max(typesize, 1 + rnd.nextInt(n + 64))
      val frame = ZarrFixture.bloscFrame(payload, typesize, codecId = 0,
        shuffle = rnd.nextBoolean(), blocksize = blocksize,
        blockCompress = ZarrFixture.blosclzBytes)
      withClue(s"case $i (n=$n, typesize=$typesize, blocksize=$blocksize): ") {
        ZarrMeta.decodeChunk(meta(n), frame).toSeq shouldBe payload.toSeq
      }
    }
  }

  test("blosclz: malformed streams raise, never hang or write out of bounds") {
    val rnd = new scala.util.Random(1234)
    for (_ <- 0 until 300) {
      val n = 1 + rnd.nextInt(64)
      val junk = new Array[Byte](n)
      rnd.nextBytes(junk)
      val dstLen = rnd.nextInt(256)
      try {
        val out = ZarrMeta.blosclzDecompress(junk, 0, n, dstLen)
        out.length shouldBe dstLen // only a full decode may return
      } catch {
        case _: java.io.EOFException => // the contract: loud, typed
      }
    }
    // truncated mid-match and a match before the output start
    intercept[java.io.EOFException] {
      ZarrMeta.blosclzDecompress(Array[Byte](0, 'x', 0x40), 0, 3, 10)
    }
    intercept[java.io.EOFException] {
      // distance 5 with only 1 byte written
      ZarrMeta.blosclzDecompress(Array[Byte](0, 'x', 0x40, 4), 0, 4, 10)
    }
  }

  test("vlen-utf8 (object dtype) stores decode as StringType columns") {
    val dir = ZarrFixture.writeVlen()
    val df = spark.read.format("zarr").load(dir)
    df.schema("note").dataType shouldBe org.apache.spark.sql.types.StringType
    val rows = df.orderBy("time").collect()
    rows.length shouldBe 6
    val idx = rows(0).fieldIndex("note")
    // variable lengths, non-ASCII, empties — decoded exactly
    rows.take(4).map(_.getString(idx)).toSeq shouldBe
      Seq("hello", "", "héllo wörld", "日本語テキスト")
    // chunk 1 is MISSING with fill "na" → a fill run, not nulls
    rows(4).getString(idx) shouldBe "na"
    rows(5).getString(idx) shouldBe "na"
    df.filter(col("note") === "hello").count() shouldBe 1
  }

  test("vlen-utf8: corrupt chunks fail loudly (count, truncation, runaway length)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = ZarrMeta.parseArray("x",
      mapper.readTree("""{"shape": [4], "chunks": [4], "dtype": "|O",
        "compressor": null, "fill_value": null, "order": "C",
        "filters": [{"id": "vlen-utf8"}]}"""),
      mapper.readTree("{}")).get
    meta.isVlen shouldBe true
    // wrong item count
    val wrongN = ZarrFixture.vlenUtf8(Array("a", "b")) // 2 items, chunk is 4
    val e1 = intercept[IllegalArgumentException] {
      ZarrMeta.stringsOf(meta, wrongN)
    }
    e1.getMessage should include("2 items")
    // an item length running past the buffer
    val runaway = ZarrFixture.vlenUtf8(Array("a", "b", "c", "d"))
    runaway(5) = 0x7F // item 0's length beyond the chunk end
    intercept[java.io.EOFException] { ZarrMeta.stringsOf(meta, runaway) }
    // truncated header
    intercept[java.io.EOFException] {
      ZarrMeta.stringsOf(meta, Array[Byte](1, 0))
    }
  }

  test("object dtype without vlen-utf8 (and other filters) stays rejected") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // |O with null filters: bytes have no defined layout
    val e1 = intercept[IllegalArgumentException] {
      ZarrMeta.parseArray("x",
        mapper.readTree("""{"shape": [4], "chunks": [4], "dtype": "|O",
          "compressor": null, "fill_value": null, "order": "C",
          "filters": null}"""),
        mapper.readTree("{}"))
    }
    e1.getMessage should include("object dtype")
    // vlen-utf8 on a non-object dtype: numcodecs never writes this
    val e2 = intercept[IllegalArgumentException] {
      ZarrMeta.parseArray("x",
        mapper.readTree("""{"shape": [4], "chunks": [4], "dtype": "<f8",
          "compressor": null, "fill_value": 0, "order": "C",
          "filters": [{"id": "vlen-utf8"}]}"""),
        mapper.readTree("{}"))
    }
    e2.getMessage should include("vlen-utf8")
    // a CHAIN containing vlen-utf8 plus another filter is still a chain
    val e3 = intercept[IllegalArgumentException] {
      ZarrMeta.parseArray("x",
        mapper.readTree("""{"shape": [4], "chunks": [4], "dtype": "|O",
          "compressor": null, "fill_value": null, "order": "C",
          "filters": [{"id": "vlen-utf8"}, {"id": "delta"}]}"""),
        mapper.readTree("{}"))
    }
    e3.getMessage should include("filters")
  }

  test("widened dtypes: |b1, |i1, <u2, <u4 decode with exact values and types") {
    val dir = ZarrFixture.writeWideDtypes()
    val df = spark.read.format("zarr").load(dir)
    import org.apache.spark.sql.types._
    df.schema("ok").dataType shouldBe BooleanType
    df.schema("delta").dataType shouldBe ByteType
    df.schema("count16").dataType shouldBe IntegerType // u2 widened
    df.schema("count32").dataType shouldBe LongType    // u4 widened
    val rows = df.orderBy("time").collect()
    rows.length shouldBe 6
    def at[T](r: Int, c: String): T =
      rows(r).getAs[T](rows(r).fieldIndex(c))
    // bool: any nonzero byte is true (numpy writes 0/1)
    (0 until 6).map(i => at[Boolean](i, "ok")) shouldBe
      Seq(true, false, true, false, true, false)
    // i1 is SIGNED
    at[Byte](0, "delta") shouldBe (-5).toByte
    at[Byte](5, "delta") shouldBe 120.toByte
    // u2 values past Short.MaxValue survive the widening
    at[Int](0, "count16") shouldBe 65535
    at[Int](1, "count16") shouldBe 0
    // u4 values past Int.MaxValue survive
    at[Long](0, "count32") shouldBe 4000000000L
    // `ok_fill` chunk 1 is MISSING with a JSON-boolean fill (false) →
    // a false run for rows 4..5
    (0 until 6).map(i => at[Boolean](i, "ok_fill")) shouldBe
      Seq(true, true, false, false, false, false)
    // the SQL surface consumes them natively
    df.filter(col("ok") && col("count32") > 2000000000L).count() should be >= 1L
  }

  test("raw datetime64 dtypes decode as timestamps: NaT → null, floor ns, BE, pruning") {
    val dir = ZarrFixture.writeDatetime()
    val df = spark.read.format("zarr").load(dir)
    import org.apache.spark.sql.types._
    Seq("time", "stamp_s", "stamp_be", "fine").foreach { c =>
      df.schema(c).dataType shouldBe TimestampType
    }
    val rows = df.orderBy("time").collect()
    rows.length shouldBe 6
    def inst(r: Int, c: String): java.time.Instant =
      rows(r).getTimestamp(rows(r).fieldIndex(c)).toInstant
    // the M8[ns] record coordinate decodes to whole seconds
    (0 until 6).map(i => inst(i, "time")) shouldBe
      (0 until 6).map(i => java.time.Instant.ofEpochSecond(i.toLong))
    // M8[s] values scale to micros exactly; the NaT element is null
    inst(0, "stamp_s") shouldBe java.time.Instant.ofEpochSecond(86400L)
    rows(2).isNullAt(rows(2).fieldIndex("stamp_s")) shouldBe true
    // the missing chunk with a NaT fill is a null run (rows 4-5)
    rows(4).isNullAt(rows(4).fieldIndex("stamp_s")) shouldBe true
    rows(5).isNullAt(rows(5).fieldIndex("stamp_s")) shouldBe true
    // big-endian micros, incl. a pre-epoch value
    inst(0, "stamp_be") shouldBe java.time.Instant.ofEpochMilli(-1500L)
    inst(3, "stamp_be") shouldBe java.time.Instant.ofEpochMilli(2500L)
    inst(5, "stamp_be") shouldBe java.time.Instant.ofEpochMilli(4500L)
    // ns → µs floors (order-preserving for pre-epoch): 1500 → 1 µs,
    // -1500 → -2 µs, 999 → 0, -999 → -1
    inst(0, "fine") shouldBe java.time.Instant.ofEpochSecond(0, 1000L)
    inst(1, "fine") shouldBe java.time.Instant.ofEpochSecond(0, -2000L)
    inst(2, "fine") shouldBe java.time.Instant.EPOCH
    inst(3, "fine") shouldBe java.time.Instant.ofEpochSecond(0, -1000L)
    // an M8[ns] record coordinate prunes chunks like a CF-time one:
    // time >= 4.5 s keeps only chunk 1 (a bound exactly on a chunk's
    // first value keeps the chunk before it too — the strict-floor
    // duplicate-spanning rule)
    val sb = new ZarrScanBuilder(dir, "time", ZarrFixture.metas(dir),
      sorted = SortedMode.Auto)
    sb.pushFilters(Array(org.apache.spark.sql.sources.GreaterThanOrEqual(
      "time", java.sql.Timestamp.from(
        java.time.Instant.ofEpochMilli(4500L)))))
    sb.build().toBatch.planInputPartitions().length shouldBe 1
    // and the pushed-filter frame matches post-scan filtering exactly
    val lo = lit("1970-01-01 00:00:04").cast("timestamp")
    df.filter(col("time") >= lo).count() shouldBe 2L
  }

  test("datetime64 calendar units and 2-D datetime64 fail loudly at schema time") {
    val dir = ZarrFixture.writeDatetime()
    // rewrite the store's metadata with a week-unit dtype: variable
    // calendar length, not representable — must fail with the unit
    // named. (M8[D] is NOT in this set any more: day units map to
    // DateType since round 15.)
    val metaPath = Paths.get(dir, ".zmetadata")
    val weekMeta = new String(Files.readAllBytes(metaPath), "UTF-8")
      .replace("<M8[s]", "<M8[W]")
    Files.write(metaPath, weekMeta.getBytes("UTF-8"))
    val e = intercept[Exception] {
      spark.read.format("zarr").load(dir).schema
    }
    e.getMessage should include("datetime64 unit 'W'")
    // 2-D datetime64 would need per-element unit scaling the stitch
    // path doesn't do — rejected at schema time, never raw longs
    val m2 = ZarrMeta.parseConsolidated("""{"metadata": {
      "x/.zarray": {"shape": [6, 2], "chunks": [4, 2], "dtype": "<M8[ns]",
        "compressor": null, "fill_value": null, "order": "C",
        "filters": null, "zarr_format": 2},
      "x/.zattrs": {"_ARRAY_DIMENSIONS": ["time", "d"]}},
      "zarr_consolidated_format": 1}""")("x")
    intercept[IllegalArgumentException] { m2.sparkType }
      .getMessage should include("2-D datetime64")
  }

  test("<U strings keep EMBEDDED NULs, trimming trailing padding only (xarray parity)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = ZarrMeta.parseArray("x",
      mapper.readTree("""{"shape": [3], "chunks": [3], "dtype": "<U3",
        "compressor": null, "fill_value": "", "order": "C",
        "filters": null}"""),
      mapper.readTree("{}")).get
    val bb = ByteBuffer.allocate(3 * 12).order(ByteOrder.LITTLE_ENDIAN)
    // "a\0b" (embedded NUL is DATA), "ab\0" (trailing pad), "\0\0\0"
    Seq('a'.toInt, 0, 'b'.toInt, 'a'.toInt, 'b'.toInt, 0, 0, 0, 0).foreach(bb.putInt)
    val out = ZarrMeta.stringsOf(meta, bb.array())
    out(0) shouldBe "a\u0000b" // numpy keeps it; first-NUL would drop 'b'
    out(1) shouldBe "ab"
    out(2) shouldBe ""
  }

  test("|S fill_value padded to the dtype width is NUL-trimmed like elements") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // base64 of "LIGHT\0" — a writer padding the fill to |S6
    val b64 = java.util.Base64.getEncoder.encodeToString(
      Array[Byte]('L', 'I', 'G', 'H', 'T', 0))
    val meta = ZarrMeta.parseArray("x",
      mapper.readTree(s"""{"shape": [4], "chunks": [4], "dtype": "|S6",
        "compressor": null, "fill_value": "$b64", "order": "C",
        "filters": null}"""),
      mapper.readTree("{}")).get
    meta.fillString shouldBe Some("LIGHT") // equal to written "LIGHT" rows
  }

  test("zstd frames declaring more than the chunk size are rejected before allocating") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = ZarrMeta.parseArray("x",
      mapper.readTree("""{"shape": [100], "chunks": [100], "dtype": "<u1",
        "compressor": {"id": "zstd"}, "fill_value": 0, "order": "C",
        "filters": null}"""),
      mapper.readTree("{}")).get
    // a real frame whose declared content (2000 B) exceeds the 100-B chunk
    val big = ZarrFixture.zstdBytes(new Array[Byte](2000))
    val e = intercept[IllegalArgumentException] {
      ZarrMeta.decodeChunk(meta, big)
    }
    e.getMessage should include("cap")
  }

  test("corrupt chunks decoding to the wrong fixed size fail with the array name") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = ZarrMeta.parseArray("readings",
      mapper.readTree("""{"shape": [8], "chunks": [8], "dtype": "<f8",
        "compressor": {"id": "zlib"}, "fill_value": 0, "order": "C",
        "filters": null}"""),
      mapper.readTree("{}")).get
    // inflates to 9 bytes; the chunk needs 64
    val e = intercept[IllegalArgumentException] {
      ZarrMeta.decodeChunk(meta, ZarrFixture.deflateBytes(
        Array.tabulate[Byte](9)(_.toByte)))
    }
    e.getMessage should include("readings")
    e.getMessage should include("expected 64")
  }

  test("auto pruning: sorted stores binary-search by default, unsorted fall back exactly") {
    def kept(d: String, mode: SortedMode,
             loSec: Long, hiSec: Long): Seq[Long] = {
      val sb = new ZarrScanBuilder(d, "time", ZarrFixture.metas(d), sorted = mode)
      sb.pushFilters(Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("time",
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(loSec))),
        org.apache.spark.sql.sources.LessThanOrEqual("time",
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(hiSec)))))
      sb.build().toBatch.planInputPartitions().toSeq
        .map(_.asInstanceOf[ZarrInputPartition].chunk)
    }
    // the main fixture store is time-sorted: Auto == Forced on a narrow span
    kept(store, SortedMode.Auto, 130 * 60, 180 * 60) shouldBe
      kept(store, SortedMode.Forced, 130 * 60, 180 * 60)
    // a DESCENDING store: the 2-read probe fails → exact per-chunk pruning
    val desc = ZarrFixture.writeDescending()
    val span = (20L, 27L)
    kept(desc, SortedMode.Auto, span._1, span._2) shouldBe
      kept(desc, SortedMode.Exact, span._1, span._2)
    kept(desc, SortedMode.Auto, span._1, span._2) should not be empty
    // end-to-end with NO option set (the default): row-identical to the
    // forced-exact read
    def rows(opts: Map[String, String]): Seq[String] = {
      val r = opts.foldLeft(spark.read.format("zarr")) {
        case (b, (k, v)) => b.option(k, v)
      }
      r.load(desc)
        .filter(col("time") >= lit("1970-01-01 00:00:20").cast("timestamp") &&
          col("time") <= lit("1970-01-01 00:00:27").cast("timestamp"))
        .collect().map(_.toString).sorted.toSeq
    }
    rows(Map.empty) shouldBe rows(Map("sortedCoord" -> "false"))
    rows(Map.empty).size shouldBe 8
    // a store sorted at its first/last chunks but DISORDERED inside: the
    // search's per-probe verification catches the probed chunk and falls
    // back — same kept set as exact
    val interior = ZarrFixture.writeInteriorDisorder()
    kept(interior, SortedMode.Auto, 5, 9) shouldBe
      kept(interior, SortedMode.Exact, 5, 9)
  }
}

/** Writes a Zarr v2 consolidated store per the public spec — the
  * fixture side of the reader contract (no python zarr exists in the
  * container; the formats are followed from the written specs, and the
  * codec layer is additionally pinned by handcrafted byte sequences
  * above).
  */
object ZarrFixture {
  val N = 950          // array length; chunk 100 → 10 chunks, last = 50
  val CHUNK = 100

  def shuffle(in: Array[Byte], typesize: Int): Array[Byte] = {
    val neles = in.length / typesize
    val out = new Array[Byte](in.length)
    var b = 0
    while (b < typesize) {
      var i = 0
      while (i < neles) { out(b * neles + i) = in(i * typesize + b); i += 1 }
      b += 1
    }
    System.arraycopy(in, neles * typesize, out, neles * typesize,
      in.length - neles * typesize)
    out
  }

  def deflateBytes(src: Array[Byte]): Array[Byte] = deflate(src)

  private def deflate(src: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(src); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Real-compressor block codecs for frames beyond zlib: the reader's
    * zstd/snappy decode must invert the actual libraries' output, and the
    * pure-JVM lz4 decoder must invert a REAL lz4 compressor (lz4-java),
    * not just handcrafted sequences.
    */
  def zstdBytes(src: Array[Byte]): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(src, 3)
  def snappyBytes(src: Array[Byte]): Array[Byte] =
    org.xerial.snappy.Snappy.compress(src)
  def lz4Block(src: Array[Byte]): Array[Byte] = {
    val c = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val out = new Array[Byte](c.maxCompressedLength(src.length))
    val n = c.compress(src, 0, src.length, out, 0, out.length)
    java.util.Arrays.copyOf(out, n)
  }
  /** numcodecs LZ4 chunk frame: int32-LE original size + one block. */
  def numcodecsLz4(src: Array[Byte]): Array[Byte] = {
    val block = lz4Block(src)
    val bb = ByteBuffer.allocate(4 + block.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(src.length).put(block)
    bb.array()
  }

  /** c-blosc chunk frame (README_CHUNK_FORMAT layout). */
  def bloscFrame(raw: Array[Byte], typesize: Int, codecId: Int,
                 shuffle: Boolean, blocksize: Int,
                 forceStored: Boolean = false,
                 deflateBlocks: Boolean = false,
                 memcpy: Boolean = false,
                 blockCompress: Array[Byte] => Array[Byte] = null): Array[Byte] = {
    val nbytes = raw.length
    if (memcpy) {
      val bb = ByteBuffer.allocate(16 + nbytes).order(ByteOrder.LITTLE_ENDIAN)
      bb.put(2.toByte).put(1.toByte).put(0x2.toByte).put(typesize.toByte)
      bb.putInt(nbytes).putInt(blocksize).putInt(16 + nbytes)
      bb.put(raw)
      return bb.array()
    }
    val nblocks = (nbytes + blocksize - 1) / blocksize
    val blocks = (0 until nblocks).map { i =>
      val ubs = math.min(blocksize, nbytes - i * blocksize)
      val slice = java.util.Arrays.copyOfRange(raw, i * blocksize, i * blocksize + ubs)
      val sh = if (shuffle) ZarrFixture.shuffle(slice, typesize) else slice
      val comp =
        if (forceStored) sh
        else if (blockCompress != null) blockCompress(sh)
        else if (deflateBlocks) deflate(sh)
        else sh
      if (!forceStored && comp.length < ubs) (comp, ubs) else (sh, ubs)
    }
    val headerAndStarts = 16 + 4 * nblocks
    val offsets = blocks.scanLeft(headerAndStarts) {
      case (off, (data, _)) => off + 4 + data.length
    }
    val total = offsets.last
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    val flags = (if (shuffle) 0x1 else 0) | (codecId << 5)
    bb.put(2.toByte).put(1.toByte).put(flags.toByte).put(typesize.toByte)
    bb.putInt(nbytes).putInt(blocksize).putInt(total)
    offsets.init.foreach(bb.putInt)
    blocks.foreach { case (data, ubs) =>
      // stored blocks are flagged by csize == uncompressed block size
      bb.putInt(if (data.length == ubs) ubs else data.length)
      bb.put(data)
    }
    bb.array()
  }

  private def le(doubles: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(doubles.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    doubles.foreach(bb.putDouble); bb.array()
  }
  private def leF(fs: Array[Float]): Array[Byte] = {
    val bb = ByteBuffer.allocate(fs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    fs.foreach(bb.putFloat); bb.array()
  }
  private def leI(is: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(is.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    is.foreach(bb.putInt); bb.array()
  }
  private def leL(ls: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(ls.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    ls.foreach(bb.putLong); bb.array()
  }
  private def leS(ss: Array[Short]): Array[Byte] = {
    val bb = ByteBuffer.allocate(ss.length * 2).order(ByteOrder.LITTLE_ENDIAN)
    ss.foreach(bb.putShort); bb.array()
  }

  private def zarray(dtype: String, comp: String): String = {
    val c = comp match {
      case "zlib" => """{"id": "zlib", "level": 1}"""
      case "blosc" => """{"id": "blosc", "cname": "zlib", "clevel": 5, "shuffle": 1}"""
      case "blosc-memcpy" => """{"id": "blosc", "cname": "lz4", "clevel": 0, "shuffle": 0}"""
      case _ => "null"
    }
    val fill = if (dtype.startsWith("<f")) "\"NaN\"" else "0"
    s"""{"shape": [$N], "chunks": [$CHUNK], "dtype": "$dtype",
        "compressor": $c, "fill_value": $fill, "order": "C",
        "filters": null, "zarr_format": 2}"""
  }

  def write(): String = {
    val dir = Files.createTempDirectory("graft_zarr").toString
    def put(arr: String, chunk: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk.toString), bytes)
    }
    val nChunks = (N + CHUNK - 1) / CHUNK
    for (c <- 0 until nChunks) {
      // on-disk chunks are PADDED to the full chunk length (zarr spec)
      val idx = Array.tabulate(CHUNK)(k => c * CHUNK + k)
      put("time", c, bloscFrame(
        leL(idx.map(_ * 60L)), typesize = 8, codecId = 3,
        shuffle = true, blocksize = 256, deflateBlocks = true))
      if (c != 2) // chunk 2 missing → fill_value (NaN) run
        put("value", c, deflate(le(idx.map(i =>
          if (i % 97 == 3) Double.NaN else i * 0.5))))
      put("temp", c, bloscFrame(
        leF(idx.map(i => 20f + i * 0.25f)), typesize = 4, codecId = 3,
        shuffle = true, blocksize = 128, deflateBlocks = true))
      put("flags", c, bloscFrame(
        leI(idx.map(_ % 7)), typesize = 4, codecId = 1,
        shuffle = false, blocksize = 4 * CHUNK, memcpy = true))
      put("qc", c, leS(idx.map(i => (i % 5).toShort)))
    }
    val metaEntries = Seq(
      "time" -> ("<i8", "blosc",
        """, "units": "seconds since 1970-01-01", "calendar": "proleptic_gregorian""""),
      "value" -> ("<f8", "zlib", ""),
      "temp" -> ("<f4", "blosc", ""),
      "flags" -> ("<i4", "blosc-memcpy", ""),
      "qc" -> ("<i2", "raw", "")
    ).map { case (name, (dt, comp, extraAttrs)) =>
      s""""$name/.zarray": ${zarray(dt, comp)},
          "$name/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]$extraAttrs}"""
    } :+
      // a 2-D array and an other-dimension array: must be EXCLUDED
      s""""matrix/.zarray": {"shape": [4, 4], "chunks": [4, 4], "dtype": "<f8",
            "compressor": null, "fill_value": 0, "order": "C",
            "filters": null, "zarr_format": 2},
          "matrix/.zattrs": {"_ARRAY_DIMENSIONS": ["x", "y"]}""" :+
      s""""depth_axis/.zarray": {"shape": [16], "chunks": [16], "dtype": "<f8",
            "compressor": null, "fill_value": 0, "order": "C",
            "filters": null, "zarr_format": 2},
          "depth_axis/.zattrs": {"_ARRAY_DIMENSIONS": ["depth"]}"""
    Files.write(Paths.get(dir, ".zmetadata"),
      s"""{"metadata": {${metaEntries.mkString(",\n")}},
          "zarr_consolidated_format": 1}""".getBytes("UTF-8"))
    dir
  }

  /** 14 rows / chunk 8, coordinate seconds
    * [0,1,2,3,4,5,10,10 | 10,10,12,13,14,15] — duplicate values SPAN the
    * chunk boundary (the strict-floor pruning edge).
    */
  def writeDupBoundary(): String = {
    val dir = Files.createTempDirectory("graft_zarr_dup").toString
    val times = Array(0L, 1, 2, 3, 4, 5, 10, 10, 10, 10, 12, 13, 14, 15)
    def put(arr: String, chunk: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk.toString), bytes)
    }
    for (c <- 0 until 2) {
      // pad the last chunk to the full chunk length (zarr spec)
      val slice = Array.tabulate(8)(k =>
        if (c * 8 + k < times.length) times(c * 8 + k) else 0L)
      put("time", c, leL(slice))
      put("v", c, le(slice.map(_ * 0.5)))
    }
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [14], "chunks": [8], "dtype": "<i8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01"},
      "v/.zarray": {"shape": [14], "chunks": [8], "dtype": "<f8",
        "compressor": null, "fill_value": "NaN", "order": "C",
        "filters": null, "zarr_format": 2},
      "v/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** Per-variable chunking (time [100] vs value [200]) — load must
    * refuse; no chunk files needed (the require fires on metadata).
    */
  def writeHeteroChunks(): String = {
    val dir = Files.createTempDirectory("graft_zarr_hetero").toString
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [200], "chunks": [100], "dtype": "<i8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01"},
      "value/.zarray": {"shape": [200], "chunks": [200], "dtype": "<f8",
        "compressor": null, "fill_value": "NaN", "order": "C",
        "filters": null, "zarr_format": 2},
      "value/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** 6 rows / chunk 4: float CF time with a NaN gap at row 3, an int64
    * nanosecond CF column, and an int64 id column past 2^53.
    */
  def writeEdgeStore(): String = {
    val dir = Files.createTempDirectory("graft_zarr_edge").toString
    def put(arr: String, chunk: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk.toString), bytes)
    }
    val timeS = Array(0.0, 60.0, 120.0, Double.NaN, 240.0, 300.0)
    val tNs = Array.tabulate(6)(i => 1700000000123456789L + i * 1000000000L)
    val bigId = Array.tabulate(6)(i => (1L << 61) + 1000000007L * i)
    for (c <- 0 until 2) {
      def slice[T: scala.reflect.ClassTag](a: Array[T], pad: T): Array[T] =
        Array.tabulate(4)(k => if (c * 4 + k < 6) a(c * 4 + k) else pad)
      put("time", c, le(slice(timeS, 0.0)))
      put("t_ns", c, leL(slice(tNs, 0L)))
      put("big_id", c, leL(slice(bigId, 0L)))
    }
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [6], "chunks": [4], "dtype": "<f8",
        "compressor": null, "fill_value": "NaN", "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01"},
      "t_ns/.zarray": {"shape": [6], "chunks": [4], "dtype": "<i8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "t_ns/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "nanoseconds since 1970-01-01"},
      "big_id/.zarray": {"shape": [6], "chunks": [4], "dtype": "<i8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "big_id/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** 8 rows / chunk 4, float CF coordinate [0,1,2,3 | NaN,5,6,7] — a
    * NaN FIRST value in chunk 1 (the sortedCoord search's blind spot).
    */
  def writeNaNFirst(): String = {
    val dir = Files.createTempDirectory("graft_zarr_nanfirst").toString
    def put(arr: String, chunk: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk.toString), bytes)
    }
    put("time", 0, le(Array(0.0, 1.0, 2.0, 3.0)))
    put("time", 1, le(Array(Double.NaN, 5.0, 6.0, 7.0)))
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [8], "chunks": [4], "dtype": "<f8",
        "compressor": null, "fill_value": "NaN", "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01"}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** 4 rows, CF epoch carrying a −01:00 UTC offset (xarray/cftime accept
    * these; Instant.parse alone does not — the round-13 grammar fix).
    */
  def writeOffsetEpoch(): String = {
    val dir = Files.createTempDirectory("graft_zarr_off").toString
    Files.createDirectories(Paths.get(dir, "time"))
    Files.write(Paths.get(dir, "time", "0"), leL(Array(0L, 1, 2, 3)))
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [4], "chunks": [4], "dtype": "<i8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01 01:00:00 -01:00"}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** 10 rows / record chunk 4 with TWO 2-D arrays over (time × extra):
    * `absorb` (10 × 5 f8, zlib, trailing dim unchunked, NaN element at
    * (2,1), record chunk 1 MISSING → NaN-fill arrays) — the OPTAA
    * optical_absorption shape — and `spec_counts` (10 × 3 i4, raw,
    * trailing chunk 2 → col chunks of widths 2+1, value = row·10+col) —
    * the SUNA spectral_channels shape with a col-chunk edge.
    */
  def write2D(): String = {
    val dir = Files.createTempDirectory("graft_zarr_2d").toString
    def put(arr: String, chunk: String, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk), bytes)
    }
    val n = 10; val rc = 4
    for (c <- 0 until 3)
      put("time", c.toString,
        leL(Array.tabulate(rc)(k => (c * rc + k).toLong)))
    for (c <- 0 until 3 if c != 1) { // record chunk 1 missing
      val buf = new Array[Double](rc * 5)
      for (r <- 0 until rc; k <- 0 until 5) {
        val row = c * rc + r
        buf(r * 5 + k) =
          if (row >= n) 0.0
          else if (row == 2 && k == 1) Double.NaN
          else row + k * 0.1
      }
      put("absorb", s"$c.0", deflate(le(buf)))
    }
    for (c <- 0 until 3; j <- 0 until 2) { // trailing chunks [0,2) and [2,3)
      val buf = new Array[Int](rc * 2)
      for (r <- 0 until rc; k <- 0 until 2) {
        val row = c * rc + r; val colIdx = j * 2 + k
        buf(r * 2 + k) = if (row >= n || colIdx >= 3) 0 else row * 10 + colIdx
      }
      put("spec_counts", s"$c.$j", leI(buf))
    }
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [$n], "chunks": [$rc], "dtype": "<i8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01"},
      "absorb/.zarray": {"shape": [$n, 5], "chunks": [$rc, 5], "dtype": "<f8",
        "compressor": {"id": "zlib", "level": 1}, "fill_value": "NaN",
        "order": "C", "filters": null, "zarr_format": 2},
      "absorb/.zattrs": {"_ARRAY_DIMENSIONS": ["time", "wavelength"]},
      "spec_counts/.zarray": {"shape": [$n, 3], "chunks": [$rc, 2],
        "dtype": "<i4", "compressor": null, "fill_value": 0,
        "order": "C", "filters": null, "zarr_format": 2},
      "spec_counts/.zattrs": {"_ARRAY_DIMENSIONS": ["time", "spectrum"]}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** 6 rows / chunk 4: an int64 time coordinate, a |S6 frame_type
    * ("LIGHT"/"DARK"/"" NUL-padded — the SUNA shape,
    * calculateFunctions.py:322-324), and a <U4 tag (UTF-32-LE, one
    * non-ASCII char; its chunk 1 MISSING with base-less fill "na").
    */
  def writeStrings(): String = {
    val dir = Files.createTempDirectory("graft_zarr_str").toString
    def put(arr: String, chunk: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk.toString), bytes)
    }
    for (c <- 0 until 2)
      put("time", c, leL(Array.tabulate(4)(k => (c * 4 + k).toLong)))
    def s6(s: String): Array[Byte] = {
      val out = new Array[Byte](6)
      val b = s.getBytes("UTF-8")
      System.arraycopy(b, 0, out, 0, b.length)
      out
    }
    put("frame_type", 0,
      Array("LIGHT", "DARK", "LIGHT", "").flatMap(s6))
    put("frame_type", 1,
      Array("LIGHT", "DARK", "", "").flatMap(s6)) // rows 6,7 are padding
    def u4(s: String): Array[Byte] = {
      val bb = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      s.codePoints().toArray.take(4).foreach(bb.putInt)
      bb.array()
    }
    put("tag", 0, Array("aé1", "øk", "x", "yyyy").flatMap(u4))
    // tag chunk 1 intentionally missing -> fill run "na"
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [6], "chunks": [4], "dtype": "<i8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01"},
      "frame_type/.zarray": {"shape": [6], "chunks": [4], "dtype": "|S6",
        "compressor": null, "fill_value": "", "order": "C",
        "filters": null, "zarr_format": 2},
      "frame_type/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]},
      "tag/.zarray": {"shape": [6], "chunks": [4], "dtype": "<U4",
        "compressor": null, "fill_value": "na", "order": "C",
        "filters": null, "zarr_format": 2},
      "tag/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** numcodecs VLenUTF8 encode (u4-LE item count, then per item u4-LE
    * byte length + UTF-8 payload) — the fixture side of the vlen decode.
    */
  def vlenUtf8(items: Array[String]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def u4le(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
    }
    u4le(items.length)
    items.foreach { s =>
      val b = s.getBytes("UTF-8"); u4le(b.length); bos.write(b, 0, b.length)
    }
    bos.toByteArray
  }

  /** A naive but VALID blosclz stream (literal runs + distance-1 RLE
    * matches with length extensions) for round-tripping the decoder —
    * no blosclz compressor exists in the container, so the fixture
    * writes the format directly like the lz4/blosc frame writers above.
    */
  def blosclzBytes(src: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def literals(from: Int, n: Int): Unit = {
      var o = from; var r = n
      while (r > 0) {
        val k = math.min(32, r)
        bos.write(k - 1); bos.write(src, o, k); o += k; r -= k
      }
    }
    def rleMatch(len: Int): Unit = { // distance 1, len ≥ 3
      if (len <= 8) { bos.write(((len - 2) << 5) | 0); bos.write(0) }
      else {
        bos.write((7 << 5) | 0)
        var rem = len - 9
        while (rem >= 255) { bos.write(255); rem -= 255 }
        bos.write(rem)
        bos.write(0)
      }
    }
    var i = 0
    while (i < src.length) {
      var j = i + 1
      while (j < src.length && src(j) == src(i)) j += 1
      val run = j - i
      if (run >= 4) { literals(i, 1); rleMatch(run - 1) }
      else literals(i, run)
      i = j
    }
    bos.toByteArray
  }

  /** 6 rows / chunk 4: an object-dtype (|O + vlen-utf8) `note` column
    * behind zlib — xarray's default str encoding — with chunk 1 MISSING
    * and fill "na".
    */
  def writeVlen(): String = {
    val dir = Files.createTempDirectory("graft_zarr_vlen").toString
    def put(arr: String, chunk: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk.toString), bytes)
    }
    for (c <- 0 until 2)
      put("time", c, leL(Array.tabulate(4)(k => (c * 4 + k).toLong)))
    put("note", 0, deflate(vlenUtf8(Array(
      "hello", "", "héllo wörld", "日本語テキスト"))))
    // note chunk 1 intentionally missing → fill run "na"
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [6], "chunks": [4], "dtype": "<i8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01"},
      "note/.zarray": {"shape": [6], "chunks": [4], "dtype": "|O",
        "compressor": {"id": "zlib", "level": 1}, "fill_value": "na",
        "order": "C", "filters": [{"id": "vlen-utf8"}], "zarr_format": 2},
      "note/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** 6 rows / chunk 4 with the round-14 widened dtypes: |b1 bools (one
    * fully written, one with a missing chunk + JSON-boolean fill),
    * signed |i1, and unsigned <u2 / <u4 values past the signed halves'
    * ranges.
    */
  def writeWideDtypes(): String = {
    val dir = Files.createTempDirectory("graft_zarr_wide").toString
    def put(arr: String, chunk: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk.toString), bytes)
    }
    for (c <- 0 until 2)
      put("time", c, leL(Array.tabulate(4)(k => (c * 4 + k).toLong)))
    val ok = Array[Byte](1, 0, 1, 0, 1, 0)
    val okf = Array[Byte](1, 1, 0, 0) // chunk 0 only; chunk 1 missing
    val delta = Array[Byte](-5, -1, 0, 1, 64, 120)
    val c16 = Array(65535, 0, 1, 32768, 40000, 7)
    val c32 = Array(4000000000L, 0L, 1L, 2147483648L, 3000000000L, 9L)
    for (c <- 0 until 2) {
      def slice[T: scala.reflect.ClassTag](a: Array[T], pad: T): Array[T] =
        Array.tabulate(4)(k => if (c * 4 + k < 6) a(c * 4 + k) else pad)
      put("ok", c, slice(ok, 0.toByte))
      put("delta", c, slice(delta, 0.toByte))
      val bb16 = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      slice(c16, 0).foreach(v => bb16.putShort((v & 0xffff).toShort))
      put("count16", c, bb16.array())
      val bb32 = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      slice(c32, 0L).foreach(v => bb32.putInt((v & 0xffffffffL).toInt))
      put("count32", c, bb32.array())
    }
    put("ok_fill", 0, okf)
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [6], "chunks": [4], "dtype": "<i8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01"},
      "ok/.zarray": {"shape": [6], "chunks": [4], "dtype": "|b1",
        "compressor": null, "fill_value": false, "order": "C",
        "filters": null, "zarr_format": 2},
      "ok/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]},
      "ok_fill/.zarray": {"shape": [6], "chunks": [4], "dtype": "|b1",
        "compressor": null, "fill_value": false, "order": "C",
        "filters": null, "zarr_format": 2},
      "ok_fill/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]},
      "delta/.zarray": {"shape": [6], "chunks": [4], "dtype": "|i1",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "delta/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]},
      "count16/.zarray": {"shape": [6], "chunks": [4], "dtype": "<u2",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "count16/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]},
      "count32/.zarray": {"shape": [6], "chunks": [4], "dtype": "<u4",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "count32/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** 6 rows / chunk 4, every array big-endian (">") — the byte-order
    * twin of the LE fixtures: NetCDF-converted and Fortran-lineage
    * stores write '>f8'/'>i4' dtypes, same chunk layout otherwise.
    */
  def writeBigEndian(): String = {
    val dir = Files.createTempDirectory("graft_zarr_be").toString
    def put(arr: String, chunk: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk.toString), bytes)
    }
    def be(n: Int)(f: ByteBuffer => Unit): Array[Byte] = {
      val bb = ByteBuffer.allocate(n).order(ByteOrder.BIG_ENDIAN)
      f(bb); bb.array()
    }
    val temp = Array(1.5, 2.0, Double.NaN, 8.25, 1e9, -273.25)
    val depth = Array[Short](-5, 0, 7, 300, -300, 32000)
    val c16 = Array(65535, 0, 1, 32768, 40000, 7)
    val tags = Array("aé1", "øk", "", "x", "yz", "πр3") // ≤3 code points
    for (c <- 0 until 2) {
      put("time", c, be(32)(bb =>
        (0 until 4).foreach(k => bb.putLong((c * 4 + k).toLong))))
      def idx(k: Int): Int = math.min(c * 4 + k, 5) // pad tail with row 5
      put("temp", c, be(32)(bb =>
        (0 until 4).foreach(k => bb.putDouble(temp(idx(k))))))
      put("depth", c, be(8)(bb =>
        (0 until 4).foreach(k => bb.putShort(depth(idx(k))))))
      put("count16", c, be(8)(bb =>
        (0 until 4).foreach(k => bb.putShort((c16(idx(k)) & 0xffff).toShort))))
      put("tag", c, be(48)(bb => (0 until 4).foreach { k =>
        val cps = tags(idx(k)).codePoints().toArray
        (0 until 3).foreach(j => bb.putInt(if (j < cps.length) cps(j) else 0))
      }))
    }
    def za(dtype: String, fill: String): String =
      s"""{"shape": [6], "chunks": [4], "dtype": "$dtype",
        "compressor": null, "fill_value": $fill, "order": "C",
        "filters": null, "zarr_format": 2}"""
    val meta = s"""{"metadata": {
      "time/.zarray": ${za(">i8", "0")},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01"},
      "temp/.zarray": ${za(">f8", "\"NaN\"")},
      "temp/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]},
      "depth/.zarray": ${za(">i2", "0")},
      "depth/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]},
      "count16/.zarray": ${za(">u2", "0")},
      "count16/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]},
      "tag/.zarray": ${za(">U3", "\"\"")},
      "tag/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** 32 rows / chunk 4, coordinate DESCENDING (31..0 seconds)— the
    * auto-probe must reject it and fall back to exact pruning.
    */
  def writeDescending(): String = {
    val dir = Files.createTempDirectory("graft_zarr_desc").toString
    def put(arr: String, chunk: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk.toString), bytes)
    }
    for (c <- 0 until 8) {
      put("time", c, leL(Array.tabulate(4)(k => (31 - (c * 4 + k)).toLong)))
      put("v", c, le(Array.tabulate(4)(k => (c * 4 + k) * 0.5)))
    }
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [32], "chunks": [4], "dtype": "<i8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01"},
      "v/.zarray": {"shape": [32], "chunks": [4], "dtype": "<f8",
        "compressor": null, "fill_value": "NaN", "order": "C",
        "filters": null, "zarr_format": 2},
      "v/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** 16 rows / chunk 4: first and last chunks sorted and ordered against
    * each other, but chunk 1 internally DISORDERED — only the binary
    * search's per-probe verification can see it.
    */
  def writeInteriorDisorder(): String = {
    val dir = Files.createTempDirectory("graft_zarr_interior").toString
    def put(arr: String, chunk: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk.toString), bytes)
    }
    val times = Array(0L, 1, 2, 3, /*chunk1*/ 7, 5, 6, 8,
      /*chunk2*/ 9, 10, 11, 12, /*chunk3*/ 13, 14, 15, 16)
    for (c <- 0 until 4)
      put("time", c, leL(Array.tabulate(4)(k => times(c * 4 + k))))
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [16], "chunks": [4], "dtype": "<i8",
        "compressor": null, "fill_value": 0, "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"],
        "units": "seconds since 1970-01-01"}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  /** 6 rows / chunk 4 of raw numpy datetime64: an '<M8[ns]' record
    * coordinate (sorted — the auto probe qualifies it), an '<M8[s]'
    * value column with a NaT element and a NaT-fill missing chunk, a
    * '>M8[us]' big-endian column with a pre-epoch value, and an
    * '<M8[ns]' column with sub-microsecond remainders (the floor
    * conversion pin). zarr-python writes these dtypes directly for
    * pandas/numpy datetime data; xarray CF-encodes time instead.
    */
  def writeDatetime(): String = {
    val dir = Files.createTempDirectory("graft_zarr_dt").toString
    def put(arr: String, chunk: Int, bytes: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(dir, arr))
      Files.write(Paths.get(dir, arr, chunk.toString), bytes)
    }
    val NaT = Long.MinValue
    for (c <- 0 until 2) // 0..5 seconds as nanosecond offsets
      put("time", c, leL(Array.tabulate(4)(k => (c * 4 + k) * 1000000000L)))
    put("stamp_s", 0, leL(Array(86400L, 172800L, NaT, 259200L)))
    // chunk 1 of stamp_s intentionally missing → NaT-fill run (null rows)
    def beL(ls: Array[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(ls.length * 8).order(ByteOrder.BIG_ENDIAN)
      ls.foreach(bb.putLong); bb.array()
    }
    put("stamp_be", 0, beL(Array(-1500000L, 0L, 1500000L, 2500000L)))
    put("stamp_be", 1, beL(Array(3500000L, 4500000L, 0L, 0L))) // rows 4-5 + pad
    put("fine", 0, leL(Array(1500L, -1500L, 999L, -999L)))
    put("fine", 1, leL(Array(0L, 1000L, 0L, 0L)))
    val meta = s"""{"metadata": {
      "time/.zarray": {"shape": [6], "chunks": [4], "dtype": "<M8[ns]",
        "compressor": null, "fill_value": null, "order": "C",
        "filters": null, "zarr_format": 2},
      "time/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]},
      "stamp_s/.zarray": {"shape": [6], "chunks": [4], "dtype": "<M8[s]",
        "compressor": null, "fill_value": -9223372036854775808, "order": "C",
        "filters": null, "zarr_format": 2},
      "stamp_s/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]},
      "stamp_be/.zarray": {"shape": [6], "chunks": [4], "dtype": ">M8[us]",
        "compressor": null, "fill_value": null, "order": "C",
        "filters": null, "zarr_format": 2},
      "stamp_be/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]},
      "fine/.zarray": {"shape": [6], "chunks": [4], "dtype": "<M8[ns]",
        "compressor": null, "fill_value": "NaT", "order": "C",
        "filters": null, "zarr_format": 2},
      "fine/.zattrs": {"_ARRAY_DIMENSIONS": ["time"]}},
      "zarr_consolidated_format": 1}"""
    Files.write(Paths.get(dir, ".zmetadata"), meta.getBytes("UTF-8"))
    dir
  }

  def metas(dir: String): Seq[ZarrMeta.ArrayMeta] = {
    val all = ZarrMeta.parseConsolidated(new String(
      Files.readAllBytes(Paths.get(dir, ".zmetadata")), "UTF-8"))
    all.values.filter(_.dims == Seq("time")).toSeq
      .sortBy(m => (if (m.name == "time") 0 else 1, m.name))
  }
}

/** The local file system under its own scheme, registered only through
  * session keys in [[ZarrSourceSpec]].
  */
class SchemeLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${SchemeLocalFileSystem.Scheme}:///")
  override def getScheme: String = SchemeLocalFileSystem.Scheme
}

object SchemeLocalFileSystem {
  val Scheme = "graftzarrtest"
}
