package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.{ByteBuffer, ByteOrder}

/** netCDF classic WRITER (CDF-1; CDF-2 for >2 GiB files; CDF-5 when
  * 64-bit ints are needed) — the compatibility half of the save-side bridge
  * (reference IO surface manage.py:61-99: xyzpy's default engines
  * persist harvested xarray Datasets as netCDF). [[NetCDF3Source]]
  * reads such stores; this writes engine results back out as a file
  * `xarray.open_dataset` / scipy / the C library open unchanged.
  *
  * Scale boundary (deliberate): netCDF classic is a SINGLE
  * sequential file — there is no chunk-per-task parallel write the
  * way [[ZarrSink]] has. This writer therefore targets what xyzpy
  * actually persists: HARVESTED (already reduced/aggregated)
  * datasets, kilobytes-to-gigabytes, not the raw 100 TB corpus.
  * Memory stays O(row): ONE pass over the long form computes each
  * row's grid offset once for all variables, ONE global sort by
  * (variable, flat offset) streams the whole data section through a
  * single `toLocalIterator` in exactly on-disk order — the job count is
  * per-partition-fetch, independent of variable count — and gaps fill
  * as the stream passes;
  * nothing materializes driver-side beyond the coordinate axes. Full-
  * resolution exports belong in parquet or [[ZarrSink]].
  *
  * Layout conventions (pinned so an independent spec-following writer
  * produces byte-identical files — the golden fixtures in
  * NetCDFSpec are generated by a python-stdlib writer making the same
  * choices): dims in caller order; variables = coordinate vars in dim
  * order, then data vars in column order; zero attributes (ABSENT
  * tags); names padded with NULs to 4 bytes; every vsize rounded up
  * to 4; no record (UNLIMITED) dimension; data section packed in
  * variable order with no extra alignment.
  *
  * Missing cells: NaN for float variables (xyzpy's own encoding);
  * int/bool variables must be total — absent/null cells there fail
  * loudly rather than invent a sentinel. String coordinate axes write
  * as NC_CHAR matrices over a `<dim>_strlen` dimension (the classic
  * format's string encoding); bool data variables write as NC_BYTE
  * 0/1 (classic has no boolean type — NetCDF3Source reads them back
  * as LONG).
  */
object NetCDF3Sink {

  private val NcDimension = 0x0A
  private val NcVariable = 0x0B

  /** Write `df` (long form: `dims` coordinate columns + numeric data
    * columns) to `file`.
    *
    * @param version 1 (CDF-1 classic: ints are NC_INT, longs must fit
    *                32 bits, total file ≤ 2 GiB), 2 (CDF-2
    *                64-bit-offset: same types, 8-byte `begin` offsets —
    *                xarray's NETCDF3_64BIT; per-variable size still
    *                bounded by the 4-byte vsize), or 5 (CDF-5: longs
    *                are NC_INT64, every count 8-byte)
    */
  def writeDataset(df: DataFrame, file: String, dims: Seq[String],
                   version: Int = 1): Unit = {
    require(version == 1 || version == 2 || version == 5,
      s"version $version (want 1, 2 or 5)")
    // Lease + stage-then-rename (the ParquetStore discipline, shared
    // via WriteLease.stageAndSwap): concurrent writers throw
    // ConcurrentWriteException; a killed write leaves the old file
    // (or none) at `file`, never a truncated one.
    graft.store.WriteLease.stageAndSwap(df.sparkSession, file, "netcdf-write",
      "netCDF file") { tmp =>
      GridPrep.withGrid(df, dims) { g =>
        writePrepared(g, df.sparkSession, tmp.toString, dims, version)
      }
    }
  }

  /** Remove a verified-stale write lease left by a crashed writer. */
  def breakLease(spark: org.apache.spark.sql.SparkSession,
                 file: String): Unit =
    graft.store.WriteLease.breakLease(spark, file)

  private def writePrepared(g: GridPrep.Grid,
                            spark: org.apache.spark.sql.SparkSession,
                            file: String, dims: Seq[String],
                            version: Int): Unit = {
    import GridPrep.ColKind
    val nd = g.nd
    val dataVars = g.dataVars
    val kinds = g.kinds
    dataVars.find(v => kinds(v) == ColKind.Str).foreach { v =>
      throw new IllegalArgumentException(
        s"column '$v': string DATA variables not supported in netCDF " +
          "classic output — export them with ZarrSink (<U), or make " +
          "the column a coordinate axis (NC_CHAR)")
    }
    val coords = g.coords
    val shape = g.shape
    val totalElems = shape.map(_.toLong).product

    // NC types: NC_DOUBLE=6; ints are NC_INT(4) in CDF-1 (with a loud
    // 32-bit range check at stream time), NC_INT64(10) in CDF-5;
    // bool → NC_BYTE(1) (classic netCDF has no boolean — the CF
    // convention stores flags as bytes; NetCDF3Source reads them back
    // as LONG 0/1); string AXES → NC_CHAR(2) matrices over an extra
    // `<dim>_strlen` dimension, the classic-format string encoding
    // xarray/scipy emit for string coordinates.
    def ncType(c: String): Int = kinds(c) match {
      case ColKind.F8   => 6
      case ColKind.Str  => 2
      case ColKind.Bool => 1
      case ColKind.C16  => throw new IllegalArgumentException(
        s"column '$c': netCDF classic has no complex type (the reference " +
          "needs invalid_netcdf for complex too, manage.py:96-99) — " +
          "export complex variables with ZarrSink (<c16>)")
      case _            => if (version == 5) 10 else 4
    }
    def elemSize(t: Int): Int =
      if (t == 1 || t == 2) 1 else if (t == 4) 4 else 8

    // string axes: fixed byte width = longest UTF-8 encoding
    val strLens: Map[String, Int] = coords.collect {
      case (d, vs) if kinds(d) == ColKind.Str =>
        d -> math.max(1, vs.map(_.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8).length).max)
    }.toMap
    // dim list = caller dims, then one phantom strlen dim per string axis
    val strDimIds: Map[String, Int] =
      strLens.keys.toSeq.sortBy(dims.indexOf).zipWithIndex
        .map { case (d, k) => d -> (dims.length + k) }.toMap
    val allDims: Seq[(String, Int)] =
      dims.zipWithIndex.map { case (d, i) => (d, shape(i)) } ++
        strDimIds.toSeq.sortBy(_._2).map { case (d, _) =>
          (s"${d}_strlen", strLens(d)) }

    // ---- header bytes (driver-side, tiny) ----
    val bo = new java.io.ByteArrayOutputStream(4096)
    def u32(v: Int): Unit = { bo.write(v >>> 24); bo.write(v >>> 16); bo.write(v >>> 8); bo.write(v) }
    def u64(v: Long): Unit = { u32((v >>> 32).toInt); u32(v.toInt) }
    def nonNeg(v: Long): Unit = if (version == 5) u64(v) else u32(v.toInt)
    def name(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      nonNeg(b.length.toLong); bo.write(b)
      var p = b.length; while (p % 4 != 0) { bo.write(0); p += 1 }
    }
    // TAGS (NC_DIMENSION/NC_VARIABLE/NC_ATTRIBUTE and ABSENT's zero)
    // are 4-byte u32 in EVERY version; CDF-5 widens only NON_NEG
    // counts, dimids, vsize and begin (netcdf-c v1hpg.c; mirrored by
    // NetCDF3Source.readHeader)
    bo.write('C'); bo.write('D'); bo.write('F'); bo.write(version)
    nonNeg(0L) // numrecs: no record dimension
    // dim list (incl. phantom strlen dims for string axes)
    u32(NcDimension); nonNeg(allDims.length.toLong)
    for ((d, len) <- allDims) { name(d); nonNeg(len.toLong) }
    // global attrs: ABSENT
    u32(0); nonNeg(0L)
    // var list: coords (1-D over own dim; string axes 2-D over
    // (dim, dim_strlen)) then data vars (all dims)
    val varDefs: Seq[(String, Seq[Int], Int, Long)] = // (name, dimids, type, nelems)
      coords.zipWithIndex.map { case ((d, vs), i) =>
        if (kinds(d) == ColKind.Str)
          (d, Seq(i, strDimIds(d)), 2, vs.length.toLong * strLens(d))
        else (d, Seq(i), ncType(d), vs.length.toLong)
      } ++ dataVars.map(v => (v, dims.indices, ncType(v), totalElems))
    u32(NcVariable); nonNeg(varDefs.length.toLong)
    // two passes: sizes first to know where data begins
    val headerSansData = {
      var sz = bo.size()
      for ((n, dimids, t, nelems) <- varDefs) {
        val nb = n.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
        val pad = (4 - nb % 4) % 4
        val w = if (version == 5) 8 else 4
        // nameLen + name + ndims + dimids + ABSENT attrs (u32 tag +
        // NON_NEG count) + nc_type(4) + vsize(w) + begin
        sz += w + nb + pad + w + dimids.length * w + (4 + w) + 4 + w +
          (if (version == 1) 4 else 8)
        val _ = (t, nelems)
      }
      sz
    }
    var begin = headerSansData.toLong
    val begins = varDefs.map { case (_, _, t, nelems) =>
      val b = begin
      val vsize = (nelems * elemSize(t) + 3) / 4 * 4
      begin += vsize
      b
    }
    // CDF-1: every offset is a 4-byte u32 -> the whole file must fit;
    // CDF-2 widens offsets to 8 bytes but keeps 4-byte vsize, so each
    // VARIABLE stays bounded while the file may exceed 2 GiB
    require(version != 1 || begin <= Int.MaxValue.toLong,
      s"file of $begin bytes exceeds CDF-1's 2 GiB offsets — " +
        "write with version = 2 (CDF-2) or 5 (CDF-5)")
    if (version == 2)
      for ((vd, b) <- varDefs.zip(begins)) {
        val vsize = (vd._4 * elemSize(vd._3) + 3) / 4 * 4
        require(vsize <= Int.MaxValue.toLong,
          s"variable '${vd._1}' of $vsize bytes exceeds CDF-2's 4-byte " +
            "vsize — write with version = 5 (CDF-5)")
        val _ = b
      }
    for (((n, dimids, t, nelems), b) <- varDefs.zip(begins)) {
      name(n)
      nonNeg(dimids.length.toLong)
      dimids.foreach(id => nonNeg(id.toLong))
      u32(0); nonNeg(0L) // var attrs: ABSENT
      u32(t)
      nonNeg((nelems * elemSize(t) + 3) / 4 * 4) // vsize, padded
      if (version == 1) u32(b.toInt) else u64(b)
    }
    require(bo.size() == headerSansData,
      s"header size accounting bug: wrote ${bo.size()}, computed $headerSansData")

    // ---- stream the file out ----
    val p = new Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try {
      out.write(bo.toByteArray)
      val eight = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
      def emit(t: Int, bits: Long): Unit = {
        eight.clear()
        t match {
          case 1 => eight.put(bits.toByte) // NC_BYTE (bool: 0/1)
          case 4 =>
            require(bits >= Int.MinValue && bits <= Int.MaxValue,
              s"value $bits exceeds NC_INT range — write with version = 5")
            eight.putInt(bits.toInt)
          case 6  => eight.putLong(bits) // raw double bits
          case 10 => eight.putLong(bits)
        }
        out.write(eight.array(), 0, elemSize(t))
      }
      // coordinate vars from the driver-held axes; string axes write
      // their NC_CHAR matrix row by row, NUL-padded to the strlen dim
      for ((d, vs) <- coords) {
        if (kinds(d) == ColKind.Str) {
          val n = strLens(d)
          vs.foreach { v =>
            val b = v.asInstanceOf[String]
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            out.write(b)
            var p = b.length
            while (p < n) { out.write(0); p += 1 }
          }
          padTo4(out, vs.length.toLong * n)
        } else {
          val t = ncType(d)
          vs.foreach {
            case dv: Double => emit(t, java.lang.Double.doubleToRawLongBits(dv))
            case lv: Long   => emit(t, lv)
            case other      => throw new IllegalStateException(s"coord $other")
          }
          padTo4(out, vs.length.toLong * elemSize(t))
        }
      }
      // data vars: ONE pass over the normalized frame for ALL
      // variables, ONE global sort by (var, flat offset) — the sorted
      // iterator then streams the file's data section in exactly its
      // on-disk order (variables are laid out back to back), so a
      // 20-variable dataset costs ONE scan+sort, not 20. Each row's grid
      // offset is computed once and shared by every variable of that
      // row; gaps fill as the stream passes each variable's extent.
      val dimsArr = dims.toArray
      // positional axis array — hot loop indexes by dim position
      val bIdx = spark.sparkContext.broadcast(dimsArr.map(g.idxMaps))
      val shapeArr = shape.map(_.toLong).toArray
      val varsArr = dataVars.toArray
      val nv = varsArr.length
      val floatV = varsArr.map(v => kinds(v) == ColKind.F8)
      val boolV = varsArr.map(v => kinds(v) == ColKind.Bool)
      val ndim = dimsArr.length
      val flat = nd.rdd.flatMap { r =>
        var dn = 0
        while (dn < ndim) {
          require(!r.isNullAt(dn),
            s"null coordinate in dim '${dimsArr(dn)}' (dims must be total)")
          dn += 1
        }
        val axes = bIdx.value
        var off = 0L
        var dd = 0
        while (dd < ndim) {
          off = off * shapeArr(dd) + axes(dd)(r.get(dd))
          dd += 1
        }
        (0 until nv).iterator.flatMap { vi =>
          if (r.isNullAt(ndim + vi)) {
            require(floatV(vi), s"variable '${varsArr(vi)}' has a null " +
              "cell (no NaN fill exists for int/bool)")
            Iterator.empty
          } else {
            val bits =
              if (floatV(vi)) java.lang.Double.doubleToRawLongBits(r.getDouble(ndim + vi))
              else if (boolV(vi)) { if (r.getBoolean(ndim + vi)) 1L else 0L }
              else r.getLong(ndim + vi)
            Iterator(Row(vi, off, bits))
          }
        }
      }
      val it = spark.createDataFrame(flat,
        StructType(Seq(StructField("vi", IntegerType, nullable = false),
          StructField("off", LongType, nullable = false),
          StructField("bits", LongType, nullable = false))))
        .orderBy("vi", "off").toLocalIterator()
      var vi = 0
      var next = 0L
      // close out variable `vi`: completeness check, tail fill, pad
      def finishVar(): Unit = {
        val t = ncType(varsArr(vi))
        val fillBits =
          if (floatV(vi)) java.lang.Double.doubleToRawLongBits(Double.NaN)
          else 0L
        require(floatV(vi) || next == totalElems,
          s"int/bool variable '${varsArr(vi)}' is missing trailing cells " +
            s"($next of $totalElems)")
        while (next < totalElems) { emit(t, fillBits); next += 1 }
        padTo4(out, totalElems * elemSize(t))
        next = 0L
      }
      while (it.hasNext) {
        val r = it.next()
        val rvi = r.getInt(0)
        val off = r.getLong(1)
        while (vi < rvi) { finishVar(); vi += 1 }
        val v = varsArr(vi)
        val t = ncType(v)
        require(off >= next,
          s"conflict: cell written twice in variable '$v' (flat index $off)")
        require(floatV(vi) || off == next,
          s"int/bool variable '$v' is missing flat index $next")
        val fillBits =
          if (floatV(vi)) java.lang.Double.doubleToRawLongBits(Double.NaN)
          else 0L
        while (next < off) { emit(t, fillBits); next += 1 }
        emit(t, r.getLong(2)); next += 1
      }
      while (vi < nv) { finishVar(); vi += 1 }
    } finally out.close()
  }

  private def padTo4(out: java.io.OutputStream, written: Long): Unit = {
    var p = written
    while (p % 4 != 0) { out.write(0); p += 1 }
  }
}
