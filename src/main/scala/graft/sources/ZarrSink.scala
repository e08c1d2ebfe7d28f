package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.Partitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.{ByteBuffer, ByteOrder}

/** Distributed Zarr WRITER, v2 AND v3 — the save side of the
  * legacy-store bridge (reference IO surface manage.py:61-99:
  * `save_ds(ds, fn, engine="zarr")` → `ds.to_zarr`). [[ZarrSource]]
  * reads xyzpy's stores into the engine; this writes engine results
  * back out as a store xarray/zarr-python opens unchanged — zarr v2
  * (`_ARRAY_DIMENSIONS` attrs, consolidated `.zmetadata`, zlib or raw
  * chunks: what xarray's `to_zarr` has historically produced) or zarr
  * v3 (`zarr.json` metadata with `dimension_names`, gzip or raw
  * chunks, optional `sharding_indexed` with a CRC32C-tailed index:
  * what zarr-python 3 writes, shards included, per ZEP 2).
  *
  * Spark-first shape: ONE scan and ONE shuffle for the WHOLE variable
  * set — each row's grid offset is computed once and every present
  * cell becomes a ((chunk, var, offset), bits) record through
  * `repartitionAndSortWithinPartitions`, so each reduce task streams
  * its (chunk, var) groups IN ORDER and holds exactly ONE dense chunk
  * buffer at a time (no map-side dense combiners: a sparse slab costs
  * its rows, never its dense extent; no per-variable re-scan: an
  * xarray store commonly carries 10-20 data vars). Chunks are dim-0
  * slabs with inner dims kept whole, so every chunk is a contiguous
  * C-order block and assembly is a plain array fill; each task
  * encodes, compresses, and writes its chunk files through the Hadoop
  * FS — no driver materialization of array data, write bandwidth
  * scales with executors (reduce width follows `defaultParallelism`,
  * capped by the chunk-file count) exactly like the parquet store's. V3 shards reuse the same machinery with shard =
  * chunk: the slab buffer splits into CONTIGUOUS inner-chunk byte
  * ranges (inner dims whole ⇒ an inner chunk is a plain slice), each
  * encoded independently behind the shard's (offset, nbytes) index —
  * the object store sees few large objects, readers still get
  * random access to 1/`shardInnerRows` of a slab. Only the per-dim
  * coordinate axes collect to the driver (bounded: they are the
  * store's dimensions, kilobytes by construction — same bound as
  * [[graft.store.ParquetStore]]'s key handling).
  *
  * Long-form in, dense out: input columns = `dims` (the coordinate
  * axes — numeric or string) + data-variable columns (numeric, bool,
  * or complex128 structs; complex cells ride the same shuffle as two
  * f8 component records and assemble straight into the `<c16` layout).
  * Cells absent from the long form become `fill_value` (NaN for
  * floats and complex components — xyzpy's own missing-cell encoding,
  * farming.py:975-1008); int/bool variables
  * have no NaN, so absent/null cells there fail loudly instead of
  * inventing a sentinel. EVERY chunk in the grid is written, even
  * all-fill ones (a seed row per chunk rides the shuffle): the store
  * is complete on disk, the int-completeness check cannot be bypassed
  * by a wholly-absent slab, and readers that don't synthesize missing
  * chunks still see every cell. A grid cell written twice is a
  * conflict and fails loudly (mirrors [[graft.store.Merge.NoConflicts]];
  * duplicates are ADJACENT after the sort, so detection is a local
  * compare, not a lookup structure).
  */
object ZarrSink {

  /** Write `df` (long form) as a Zarr group at `path`, one array per
    * non-dim column plus one 1-D coordinate array per dim.
    *
    * @param chunkTargetBytes dim-0 slab size per chunk (v3 sharded:
    *                         per SHARD), pre-compression (16 MiB
    *                         default: large enough to amortize
    *                         per-file overhead, small enough that the
    *                         dense assembly fits comfortably in a task)
    * @param compress v2: zlib-1 chunks (numcodecs `zlib`); v3: gzip-1
    *                 (a v3 core codec — zlib-raw is not) — vs raw
    * @param zarrFormat 2 (default, xarray-classic stores) or 3
    * @param shardInnerRows v3 only: >0 writes `sharding_indexed`
    *                       arrays whose inner chunks are this many
    *                       dim-0 rows (inner dims whole); 0 = plain
    *                       chunked arrays
    * @param stringEncoding "fixed" writes numpy `<U<n>` fixed-width
    *                       strings (xarray reads them fine); "vlen"
    *                       writes object dtype + the numcodecs
    *                       `vlen-utf8` filter — xarray `to_zarr`'s
    *                       DEFAULT string encoding, so a graft-written
    *                       store diffs clean against an xarray-written
    *                       one. v2 only (v3 has neither layout);
    *                       applies to string axes AND string data
    *                       variables.
    */
  def writeDataset(df: DataFrame, path: String, dims: Seq[String],
                   chunkTargetBytes: Long = 16L << 20,
                   compress: Boolean = true,
                   zarrFormat: Int = 2,
                   shardInnerRows: Int = 0,
                   stringEncoding: String = "fixed"): Unit = {
    require(zarrFormat == 2 || zarrFormat == 3,
      s"zarrFormat $zarrFormat (want 2 or 3)")
    require(shardInnerRows >= 0, s"shardInnerRows $shardInnerRows")
    require(shardInnerRows == 0 || zarrFormat == 3,
      "sharding is a zarr v3 feature (ZEP 2) — set zarrFormat = 3")
    require(stringEncoding == "fixed" || stringEncoding == "vlen",
      s"stringEncoding '$stringEncoding' (want fixed or vlen)")
    // Lease + stage-then-rename (the ParquetStore discipline, shared
    // via WriteLease.stageAndSwap): a second writer against the same
    // destination throws ConcurrentWriteException instead of silently
    // interleaving chunk files, and a killed write leaves the OLD
    // store (or nothing) at `path`, never a mix.
    graft.store.WriteLease.stageAndSwap(df.sparkSession, path, "zarr-write",
      "zarr store") { tmp =>
      writeStore(df, tmp.toString, dims, chunkTargetBytes, compress,
        zarrFormat, shardInnerRows, stringEncoding == "vlen")
    }
  }

  /** Remove a verified-stale write lease left by a crashed writer. */
  def breakLease(spark: org.apache.spark.sql.SparkSession,
                 path: String): Unit =
    graft.store.WriteLease.breakLease(spark, path)

  private def writeStore(df: DataFrame, path: String, dims: Seq[String],
                         chunkTargetBytes: Long,
                         compress: Boolean,
                         zarrFormat: Int,
                         shardInnerRows: Int,
                         vlenStrings: Boolean): Unit = {
    GridPrep.withGrid(df, dims) { g =>
      val spark = df.sparkSession
      val shape = g.shape
      val innerElems = shape.drop(1).map(_.toLong).product
      val c0raw = math.max(1L, math.min(shape.head.toLong,
        chunkTargetBytes / 8L / math.max(1L, innerElems))).toInt
      // sharded: the slab must split evenly into inner chunks
      val c0 = if (shardInnerRows > 0)
        math.max(shardInnerRows, c0raw / shardInnerRows * shardInnerRows)
      else c0raw
      val nChunks = (shape.head + c0 - 1) / c0
      val chunkElems = c0 * innerElems
      require(chunkElems <= (Int.MaxValue - 16L) / 8L,
        s"chunk of $chunkElems elems exceeds the 2 GiB single-buffer bound " +
          "(inner dims too large — reorder dims so a big axis leads)")
      if (shardInnerRows > 0) {
        val innerPerShard = c0 / shardInnerRows
        require(innerPerShard.toLong * 16 + 4 <= Int.MaxValue,
          s"shard index of $innerPerShard inner chunks exceeds the 2 GiB " +
            "single-buffer bound — raise shardInnerRows or lower " +
            "chunkTargetBytes")
      }

      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new Path(path))
      // every metadata text also lands in the consolidated manifest —
      // v2: `.zmetadata` (xarray's open_zarr consolidated=True
      // default); v3: inlined in the group's zarr.json
      // (zarr-python 3's consolidated_metadata) — on object stores one
      // read replaces a listing plus a small read per array
      val meta = scala.collection.mutable.TreeMap[String, String]()
      def metaFile(key: String, text: String): Unit = {
        meta(key) = text
        writeSmall(fs, new Path(path, key), text)
      }
      // v3: manifest key is the NODE name, the file is <name>/zarr.json
      def v3MetaFile(name: String, text: String): Unit = {
        meta(name) = text
        writeSmall(fs, new Path(new Path(path, name), "zarr.json"), text)
      }
      if (zarrFormat == 2) {
        metaFile(".zgroup", """{"zarr_format": 2}""")
        metaFile(".zattrs", "{}")
      }

      // coordinate arrays: tiny, single-chunk, driver-written. String
      // axes write as numpy fixed-width `<U<n>` (n = longest value in
      // code points) or, with stringEncoding = "vlen", as object dtype
      // behind the numcodecs vlen-utf8 filter (xarray's default) —
      // zarr v2 only either way: v3 core has neither layout, so a
      // string axis under zarrFormat = 3 fails loudly rather than
      // writing a store other readers reject.
      for ((d, vs) <- g.coords) {
        val kind = g.kinds(d)
        val dt = kind match {
          case GridPrep.ColKind.F8  => "<f8"
          case GridPrep.ColKind.Str =>
            require(zarrFormat == 2, s"string axis '$d': zarr v3 has no " +
              "string type here — write string axes with zarrFormat = 2")
            if (vlenStrings) "|O"
            else {
              val n = vs.map { v =>
                val s = v.asInstanceOf[String]
                s.codePointCount(0, s.length)
              }.max
              s"<U${math.max(1, n)}"
            }
          case _                    => "<i8"
        }
        fs.mkdirs(new Path(path, d))
        if (zarrFormat == 2) {
          metaFile(s"$d/.zarray",
            zarrayJson(Seq(vs.length), Seq(vs.length), dt, compress))
          metaFile(s"$d/.zattrs",
            s"""{"_ARRAY_DIMENSIONS": [${GridPrep.jsonString(d)}]}""")
        } else {
          v3MetaFile(d, v3ArrayJson(Seq(vs.length), vs.length, 0, dt,
            compress, Seq(d)))
        }
        writeCoordPayload(fs, new Path(path, d), vs, dt, compress, zarrFormat)
      }

      val dimsArr = dims.toArray
      // positional axis array: the hot loop indexes by dim position,
      // not by a per-row name lookup
      val bIdx = spark.sparkContext.broadcast(dimsArr.map(g.idxMaps))
      val shapeTail = shape.drop(1).map(_.toLong).toArray

      val varsArr = g.dataVars.toArray
      // per-var storage class: 0 = i8, 1 = f8, 2 = |b1 (bool),
      // 3 = <c16 (complex128: two f8 components per cell),
      // 4 = <U<w> (fixed-width string data variable),
      // 5 = |O + vlen-utf8 (variable-length string data variable)
      val strKind: Byte = if (vlenStrings) 5 else 4
      val kindArr: Array[Byte] = varsArr.map(v => g.kinds(v) match {
        case GridPrep.ColKind.F8   => 1: Byte
        case GridPrep.ColKind.Bool => 2: Byte
        case GridPrep.ColKind.C16  => 3: Byte
        case GridPrep.ColKind.Str  => strKind
        case _                     => 0: Byte
      })
      // per-var string budget — ONE agg job over the persisted frame
      // for all string vars together. kind 4 (numpy <U semantics):
      // width = longest value in CODEPOINTS (length(), matching the
      // reader's decode). kind 5 (vlen): width = longest value in
      // UTF-8 BYTES (octet_length()) — it sizes the per-cell record
      // slots, not an on-disk dtype (the vlen payload stores each
      // cell's true byte length).
      val widthArr: Array[Int] =
        if (!kindArr.contains(strKind)) varsArr.map(_ => 0)
        else {
          require(zarrFormat == 2, "string data variables: zarr v3 has " +
            "no string layout here — write them with zarrFormat = 2")
          val strVars = varsArr.zip(kindArr).collect {
            case (v, k) if k == strKind => v }
          def widthOf(v: String) =
            if (vlenStrings) max(octet_length(col(v))) else max(length(col(v)))
          val row = g.nd.agg(
            widthOf(strVars.head).as(strVars.head),
            strVars.tail.map(v => widthOf(v).as(v)): _*).head()
          val widths = strVars.zipWithIndex.map { case (v, i) =>
            v -> math.max(1, if (row.isNullAt(i)) 1 else row.getInt(i))
          }.toMap
          varsArr.map(widths.getOrElse(_, 0))
        }
      def varDtype(vi: Int): String = kindArr(vi) match {
        case 1 => "<f8"
        case 2 => "|b1"
        case 3 => "<c16"
        case 4 => s"<U${widthArr(vi)}"
        case 5 => "|O"
        case _ => "<i8"
      }
      val maxCellBytes = (kindArr.zip(widthArr).map {
        case (3, _) => 16L
        case (4, w) => w.toLong * 4L
        case (5, w) => w.toLong + 8L // length slot + packed utf8 bytes
        case _      => 8L
      } :+ 8L).max
      require(chunkElems <= (Int.MaxValue - 16L) / maxCellBytes,
        s"chunk of $chunkElems cells x $maxCellBytes B exceeds the 2 GiB " +
          "single-buffer bound — lower chunkTargetBytes")
      for ((v, vi) <- varsArr.zipWithIndex) {
        fs.mkdirs(new Path(path, v))
        if (zarrFormat == 2) {
          metaFile(s"$v/.zarray",
            zarrayJson(shape, c0 +: shape.drop(1), varDtype(vi), compress))
          metaFile(s"$v/.zattrs",
            s"""{"_ARRAY_DIMENSIONS": [${dims.map(GridPrep.jsonString).mkString(", ")}]}""")
        } else {
          v3MetaFile(v, v3ArrayJson(shape, c0, shardInnerRows, varDtype(vi),
            compress, dims))
        }
      }

      // ONE pass over the long form for ALL variables: the grid offset
      // is computed once per row (it is the same for every variable of
      // that row) and each present cell becomes a
      // ((chunk, var, offsetInChunk), value-bits) record. One scan and
      // one shuffle regardless of variable count — an xarray store
      // commonly carries 10-20 data vars, and a scan+shuffle per var
      // multiplies write cost by exactly that factor. Dims are total
      // (GridPrep rejected null coords up front); value-null cells
      // become fill.
      val ndim = dimsArr.length
      val nv = varsArr.length
      val rows = g.nd.rdd.flatMap { r =>
        var dn = 0
        while (dn < ndim) {
          require(!r.isNullAt(dn),
            s"null coordinate in dim '${dimsArr(dn)}' (dims must be total)")
          dn += 1
        }
        val axes = bIdx.value
        // row-major offset over (local0, i1..in); inner chunk extents
        // are the full shape, so offset arithmetic is the array's own
        // except dim 0 folds to its slab-local index
        val i0 = axes(0)(r.get(0))
        var off = i0 % c0
        var dd = 1
        while (dd < ndim) {
          off = off * shapeTail(dd - 1) + axes(dd)(r.get(dd))
          dd += 1
        }
        val chunk = (i0 / c0).toInt
        (0 until nv).iterator.flatMap { vi =>
          if (r.isNullAt(ndim + vi)) {
            require(kindArr(vi) == 1 || kindArr(vi) == 3,
              s"variable '${varsArr(vi)}' has a " +
              "null cell (no NaN fill exists for int/bool/string — fill " +
              "or drop before writing)")
            Iterator.empty
          } else kindArr(vi) match {
            case 3 =>
              // complex cell = two consecutive f8 components in the
              // <c16 layout; both ride the same shuffle as two records
              val c = r.getStruct(ndim + vi)
              require(!c.isNullAt(0) && !c.isNullAt(1),
                s"variable '${varsArr(vi)}' has a complex cell with a " +
                  "null component (cells are all-or-nothing: null the " +
                  "whole struct for a missing cell)")
              Iterator(
                ((chunk, vi, off * 2),
                  java.lang.Double.doubleToRawLongBits(c.getDouble(0))),
                ((chunk, vi, off * 2 + 1),
                  java.lang.Double.doubleToRawLongBits(c.getDouble(1))))
            case 4 =>
              // fixed-width string cell: pack UCS-4 codepoints two per
              // long (LE halves) — `slots` records per cell riding the
              // same shuffle, assembled into the <U<w> layout
              val w = widthArr(vi)
              val slots = (w + 1) / 2
              val str = r.getString(ndim + vi)
              val cps = new Array[Int](w)
              var n = 0
              var ci = 0
              while (ci < str.length) {
                val cp = str.codePointAt(ci)
                cps(n) = cp; n += 1
                ci += Character.charCount(cp)
              }
              (0 until slots).iterator.map { t =>
                val lo = cps(2 * t).toLong & 0xFFFFFFFFL
                val hi = if (2 * t + 1 < w) cps(2 * t + 1).toLong & 0xFFFFFFFFL
                         else 0L
                ((chunk, vi, off * slots + t), lo | (hi << 32))
              }
            case 5 =>
              // vlen string cell: slot 0 carries the UTF-8 byte
              // length, the remaining slots the bytes packed 8 per
              // long (LE) — all slots ride the shuffle (trailing zeros
              // included) so the flush total-ness check keeps working;
              // assembly re-emits only the true `len` bytes per cell
              val bytes = r.getString(ndim + vi)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val dataSlots = (widthArr(vi) + 7) / 8
              val slots = 1 + dataSlots
              Iterator(((chunk, vi, off * slots), bytes.length.toLong)) ++
                (0 until dataSlots).iterator.map { t =>
                  var l = 0L
                  var b = 0
                  while (b < 8 && t * 8 + b < bytes.length) {
                    l |= (bytes(t * 8 + b).toLong & 0xFFL) << (8 * b)
                    b += 1
                  }
                  ((chunk, vi, off * slots + 1 + t), l)
                }
            case k =>
              val bits = k match {
                case 1 => java.lang.Double.doubleToRawLongBits(r.getDouble(ndim + vi))
                case 2 => if (r.getBoolean(ndim + vi)) 1L else 0L
                case _ => r.getLong(ndim + vi)
              }
              Iterator(((chunk, vi, off), bits))
          }
        }
      }
      val enc = ChunkEnc(zarrFormat, varsArr, kindArr, widthArr, compress,
        c0, shardInnerRows, chunkElems.toInt, innerElems, shape.head,
        dims.length)
      writeChunks(rows, path, enc, nChunks,
        spark.sparkContext.hadoopConfiguration)
      if (zarrFormat == 2) {
        // consolidated metadata last: readers treating it as the
        // manifest only ever see a complete store
        writeSmall(fs, new Path(path, ".zmetadata"),
          "{\"metadata\": {" +
            meta.map { case (k, t) => s"""${GridPrep.jsonString(k)}: $t""" }.mkString(", ") +
            "}, \"zarr_consolidated_format\": 1}")
      } else {
        // v3 group node, also the consolidated manifest, written last
        writeSmall(fs, new Path(path, "zarr.json"),
          "{\"attributes\": {}, \"consolidated_metadata\": " +
            "{\"kind\": \"inline\", \"metadata\": {" +
            meta.map { case (k, t) => s"""${GridPrep.jsonString(k)}: $t""" }.mkString(", ") +
            "}, \"must_understand\": false}, " +
            "\"node_type\": \"group\", \"zarr_format\": 3}")
      }
    }
  }

  /** Chunk-file encoding for the variable set: format-specific key
    * naming and payload assembly, shipped to the reduce tasks
    * (primitives and small arrays only). */
  private final case class ChunkEnc(format: Int, vars: Array[String],
                                    kinds: Array[Byte], // 0=i8 1=f8 2=|b1 3=<c16 4=<U
                                    widths: Array[Int], // <U width per var, else 0
                                    compress: Boolean, c0: Int,
                                    innerRows: Int, chunkElems: Int,
                                    innerElems: Long, dim0: Int, ndim: Int)
      extends Serializable {
    /** NaN-fillable kinds (f8 and c16 — complex fills NaN+NaN). */
    def isFloat(vi: Int): Boolean = kinds(vi) == 1 || kinds(vi) == 3
    def fillBits(vi: Int): Long =
      if (isFloat(vi)) java.lang.Double.doubleToRawLongBits(Double.NaN) else 0L
    /** element width on disk: 1 byte for `|b1`, 16 for `<c16`,
      * 4·width for `<U`, 8 else. Undefined for vlen (kind 5) — only
      * the v3 shard path consults it, and vlen is v2-only. */
    def elemBytes(vi: Int): Int = kinds(vi) match {
      case 2 => 1
      case 3 => 16
      case 4 => widths(vi) * 4
      case 5 => throw new IllegalStateException(
        "vlen strings have no fixed element width (v2-only, never sharded)")
      case _ => 8
    }
    /** Long records per CELL riding the shuffle (c16: 2; <U: one per
      * codepoint pair; vlen: a length slot + one per byte octet). */
    def slots(vi: Int): Int = kinds(vi) match {
      case 3 => 2
      case 4 => (widths(vi) + 1) / 2
      case 5 => 1 + (widths(vi) + 7) / 8
      case _ => 1
    }
    /** Long slots in the assembly buffer for this var's chunk. */
    def bufLen(vi: Int): Int = chunkElems * slots(vi)
    def maxBufLen: Int = chunkElems * kinds.indices.map(slots).max

    def key(chunk: Int): String =
      if (format == 2) (chunk.toString +: Seq.fill(ndim - 1)("0")).mkString(".")
      else ("c" +: chunk.toString +: Seq.fill(ndim - 1)("0")).mkString("/")

    def payload(chunk: Int, vi: Int, buf: Array[Long]): Array[Byte] = {
      val raw = kinds(vi) match {
        case 2 => toBytesBool(buf, chunkElems)
        case 4 => toBytesU(buf, chunkElems, widths(vi))
        case 5 => toBytesVlen(buf, chunkElems, slots(vi))
        case _ => toBytesLE(buf, bufLen(vi))
      }
      if (innerRows == 0) {
        if (!compress) raw
        else if (format == 2) deflate(raw) else gzip1(raw)
      } else shardPayload(chunk, vi, raw)
    }

    /** ZEP 2 shard: concatenated inner chunks (contiguous slices of
      * the C-order slab — inner dims are whole) + uint64-LE
      * (offset, nbytes) index in C-order + CRC32C, index at end.
      * Inner chunks wholly past the array's dim-0 extent are MISSING
      * (2⁶⁴−1 entries) per the spec. */
    private def shardPayload(chunk: Int, vi: Int,
                             raw: Array[Byte]): Array[Byte] = {
      val innerPerShard = c0 / innerRows
      val validRows = math.min(c0.toLong * (chunk + 1), dim0.toLong) -
        c0.toLong * chunk
      val innerBytes = (innerRows * innerElems * elemBytes(vi)).toInt
      val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val index = ByteBuffer.allocate(innerPerShard * 16 + 4)
        .order(ByteOrder.LITTLE_ENDIAN)
      var ci = 0
      while (ci < innerPerShard) {
        if (ci.toLong * innerRows >= validRows) {
          index.putLong(-1L); index.putLong(-1L) // fully out of bounds
        } else {
          val enc0 = out.size().toLong
          // both branches write the slab region in place — no
          // per-inner-chunk copy of the (already full-slab) raw bytes
          if (compress) gzip1To(out, raw, ci * innerBytes, innerBytes)
          else out.write(raw, ci * innerBytes, innerBytes)
          index.putLong(enc0); index.putLong(out.size().toLong - enc0)
        }
        ci += 1
      }
      val crc = new java.util.zip.CRC32C()
      crc.update(index.array(), 0, innerPerShard * 16)
      index.putInt(crc.getValue.toInt)
      out.write(index.array(), 0, index.capacity())
      out.toByteArray
    }
  }

  /** One ordered shuffle for the whole variable set, then stream: each
    * partition's records arrive sorted by (chunk, var, offset), so
    * (chunk, var) files assemble one at a time in a single reusable
    * buffer and duplicate cells are adjacent. A sentinel seed (offset
    * −1) per (chunk, var) guarantees every chunk file flushes,
    * including all-fill ones. */
  private def writeChunks(rows: org.apache.spark.rdd.RDD[((Int, Int, Long), Long)],
                          path: String, enc: ChunkEnc, nChunks: Int,
                          conf: org.apache.hadoop.conf.Configuration): Unit = {
    val sc = rows.sparkContext
    val hconf = new SerializableHadoopConf(conf)
    val nv = enc.vars.length
    // reduce width scales with the cluster, bounded by the file count
    // (each task then streams several (chunk, var) groups sequentially
    // — memory stays one chunk buffer regardless)
    val nGroups = nChunks.toLong * nv
    val parts = math.max(1, math.min(nGroups,
      math.max(sc.defaultParallelism * 2, 32)).toInt)
    val byGroup = new Partitioner {
      def numPartitions: Int = parts
      def getPartition(key: Any): Int = {
        val k = key.asInstanceOf[(Int, Int, Long)]
        val g = k._1.toLong * nv + k._2
        ((g % parts).toInt + parts) % parts
      }
    }
    val seeds = sc.range(0, nGroups, numSlices = math.min(nGroups, parts).toInt)
      .map(g => (((g / nv).toInt, (g % nv).toInt, -1L), 0L))
    seeds.union(rows)
      .repartitionAndSortWithinPartitions(byGroup)
      .foreachPartition { it =>
        val fsx = new Path(path).getFileSystem(hconf.value)
        var curChunk = -1
        var curVar = -1
        var buf: Array[Long] = null
        var lastOff = -1L
        var cells = 0L
        def flush(): Unit = if (curChunk >= 0) {
          val validElems =
            (math.min(enc.c0.toLong * (curChunk + 1), enc.dim0.toLong) -
              enc.c0.toLong * curChunk) * enc.innerElems
          if (!enc.isFloat(curVar)) { // int/bool/string: no fill — total
            val validRecords = validElems * enc.slots(curVar)
            require(cells == validRecords,
              s"variable '${enc.vars(curVar)}' chunk $curChunk: " +
                s"$cells of $validRecords cell records present " +
                "(int/bool/string cannot encode missing cells)")
          }
          val out = fsx.create(
            new Path(new Path(path, enc.vars(curVar)), enc.key(curChunk)), true)
          try out.write(enc.payload(curChunk, curVar, buf)) finally out.close()
        }
        while (it.hasNext) {
          val ((c, vi, off), bits) = it.next()
          if (c != curChunk || vi != curVar) {
            flush()
            curChunk = c
            curVar = vi
            if (buf == null) buf = new Array[Long](enc.maxBufLen)
            java.util.Arrays.fill(buf, 0, enc.bufLen(vi), enc.fillBits(vi))
            lastOff = -1L
            cells = 0L
          }
          if (off >= 0L) { // a real cell (−1 is the seed sentinel)
            require(off != lastOff,
              s"conflict: cell written twice in variable '${enc.vars(vi)}'")
            buf(off.toInt) = bits
            lastOff = off
            cells += 1
          }
        }
        flush()
      }
  }

  /** Coordinate-array CHUNK bytes (metadata is the caller's — it owns
    * the consolidated manifest). String axes encode numpy `<U<n>`:
    * each value as UCS-4 little-endian, NUL-padded to n code points. */
  private def writeCoordPayload(fs: org.apache.hadoop.fs.FileSystem,
                                arrPath: Path, vs: Array[Any], dtype: String,
                                compress: Boolean, zarrFormat: Int): Unit = {
    val raw = if (dtype == "|O") {
      // numcodecs VLenUTF8: uint32-LE item count, then per item a
      // uint32-LE byte length + UTF-8 bytes (the exact layout
      // ZarrSource.decodeVlenChunk reads back)
      val out = new java.io.ByteArrayOutputStream(64)
      def putInt(v: Int): Unit = {
        out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
        out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
      }
      putInt(vs.length)
      vs.foreach { v =>
        val b = v.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        putInt(b.length)
        out.write(b)
      }
      out.toByteArray
    } else if (dtype.startsWith("<U")) {
      val n = dtype.drop(2).toInt
      val buf = ByteBuffer.allocate(vs.length * n * 4)
        .order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach { v =>
        val s = v.asInstanceOf[String]
        var written = 0
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          buf.putInt(cp)
          written += 1
          i += Character.charCount(cp)
        }
        while (written < n) { buf.putInt(0); written += 1 }
      }
      buf.array()
    } else {
      val buf = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach {
        case d: Double => buf.putDouble(d)
        case l: Long   => buf.putLong(l)
        case other => throw new IllegalStateException(s"coord $other")
      }
      buf.array()
    }
    val payload =
      if (!compress) raw
      else if (zarrFormat == 2) deflate(raw) else gzip1(raw)
    val chunkName = if (zarrFormat == 2) "0" else "c/0"
    val out = fs.create(new Path(arrPath, chunkName), true)
    try out.write(payload) finally out.close()
  }

  /** v2 fill per dtype: NaN for floats, false for bool, 0 for ints;
    * string axes are complete single-chunk arrays, so their fill is
    * never consulted — null (undefined) keeps readers honest. */
  private def fillJson(dtype: String): String = dtype match {
    case "<f8"                        => "\"NaN\""
    case "<c16"                       => "[\"NaN\", \"NaN\"]"
    case "|b1"                        => "false"
    case "|O"                         => "null"
    case s if s.startsWith("<U")      => "null"
    case _                            => "0"
  }

  /** `.zarray` text matching zarr-python's own field set; key order is
    * alphabetical like `json.dumps(..., sort_keys=True)` so the golden
    * byte-compare spec can pin both writers to one canonical form.
    * Object dtype carries the numcodecs vlen-utf8 filter — the one
    * filter chain [[ZarrSource]] accepts for `|O`. */
  private def zarrayJson(shape: Seq[Int], chunks: Seq[Int],
                         dtype: String, compress: Boolean): String = {
    val comp = if (compress) """{"id": "zlib", "level": 1}""" else "null"
    val filters = if (dtype == "|O") """[{"id": "vlen-utf8"}]""" else "null"
    s"""{"chunks": [${chunks.mkString(", ")}], "compressor": $comp, """ +
      s""""dtype": "$dtype", "fill_value": ${fillJson(dtype)}, "filters": $filters, """ +
      s""""order": "C", "shape": [${shape.mkString(", ")}], "zarr_format": 2}"""
  }

  /** v3 `zarr.json` array text — alphabetical keys, `json.dumps`
    * spacing, same canonical-form discipline as [[zarrayJson]]. */
  private def v3ArrayJson(shape: Seq[Int], c0: Int, innerRows: Int,
                          dtype: String, compress: Boolean,
                          dims: Seq[String]): String = {
    val dataType = dtype match {
      case "<f8"  => "float64"
      case "<c16" => "complex128"
      case "|b1"  => "bool"
      case _      => "int64"
    }
    val fill = fillJson(dtype)
    val chunkShape = (c0 +: shape.drop(1)).mkString(", ")
    val byteChain = {
      val bytes = """{"configuration": {"endian": "little"}, "name": "bytes"}"""
      if (compress)
        s"""$bytes, {"configuration": {"level": 1}, "name": "gzip"}"""
      else bytes
    }
    val codecs =
      if (innerRows == 0) s"[$byteChain]"
      else {
        val innerShape = (innerRows +: shape.drop(1)).mkString(", ")
        s"""[{"configuration": {"chunk_shape": [$innerShape], """ +
          s""""codecs": [$byteChain], "index_codecs": """ +
          s"""[{"configuration": {"endian": "little"}, "name": "bytes"}, """ +
          s"""{"name": "crc32c"}], "index_location": "end"}, """ +
          s""""name": "sharding_indexed"}]"""
      }
    s"""{"attributes": {}, "chunk_grid": {"configuration": """ +
      s"""{"chunk_shape": [$chunkShape]}, "name": "regular"}, """ +
      s""""chunk_key_encoding": {"configuration": {"separator": "/"}, """ +
      s""""name": "default"}, "codecs": $codecs, """ +
      s""""data_type": "$dataType", "dimension_names": """ +
      s"""[${dims.map(GridPrep.jsonString).mkString(", ")}], """ +
      s""""fill_value": $fill, "node_type": "array", """ +
      s""""shape": [${shape.mkString(", ")}], "zarr_format": 3}"""
  }

  private def toBytesLE(buf: Array[Long], n: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(n * 8).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  /** `|b1` slab: one byte per element (bits are 0/1 by construction). */
  private def toBytesBool(buf: Array[Long], n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = buf(i).toByte; i += 1 }
    out
  }

  /** `<U<w>` slab: unpack each cell's codepoint-pair longs into `w`
    * UCS-4 LE ints — exact width, no per-cell alignment padding (the
    * buffer rounds odd widths up to whole longs; the payload does not). */
  private def toBytesU(buf: Array[Long], cells: Int, w: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(cells * w * 4).order(ByteOrder.LITTLE_ENDIAN)
    val slots = (w + 1) / 2
    var i = 0
    while (i < cells) {
      var j = 0
      while (j < w) {
        val l = buf(i * slots + j / 2)
        bb.putInt(if (j % 2 == 0) (l & 0xFFFFFFFFL).toInt
                  else (l >>> 32).toInt)
        j += 1
      }
      i += 1
    }
    bb.array()
  }

  /** numcodecs VLenUTF8 slab from the shuffled slot records: uint32-LE
    * item count, then per cell its true byte length (slot 0) + that
    * many UTF-8 bytes unpacked from the packed longs. Cells never
    * written (edge padding past the array's dim-0 extent) have
    * all-zero slots and emit as empty strings — numcodecs encodes
    * full chunks the same way. */
  private def toBytesVlen(buf: Array[Long], cells: Int,
                          slots: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(cells * 12)
    def putInt(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
      out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
    }
    putInt(cells)
    var i = 0
    while (i < cells) {
      val len = buf(i * slots).toInt
      putInt(len)
      var b = 0
      while (b < len) {
        val l = buf(i * slots + 1 + b / 8)
        out.write(((l >>> ((b % 8) * 8)) & 0xFFL).toInt)
        b += 1
      }
      i += 1
    }
    out.toByteArray
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(1)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }

  /** gzip at level 1 (v3 core codec; member fields pinned: no name, no
    * mtime — java's GZIPOutputStream writes mtime 0, matching a
    * generator that passes mtime=0). */
  private def gzip1(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    gzip1To(bos, raw, 0, raw.length)
    bos.toByteArray
  }

  /** gzip a region of `raw` straight into `out` — the sharded path
    * compresses many slab slices and needs no intermediate copies. */
  private def gzip1To(out: java.io.ByteArrayOutputStream, raw: Array[Byte],
                      off: Int, len: Int): Unit = {
    val gz = new java.util.zip.GZIPOutputStream(out) {
      `def`.setLevel(1)
    }
    gz.write(raw, off, len)
    // close() ends the native Deflater; ByteArrayOutputStream.close()
    // is a no-op, so the shared `out` stays usable
    gz.close()
  }

  private def writeSmall(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                         text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
