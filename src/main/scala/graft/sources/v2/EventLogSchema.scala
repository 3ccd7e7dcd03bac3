package graft.sources.v2

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}

/** SCHEMA EVOLUTION — the ALTER-style rung every real table format
  * grows, scoped to what the fixed-width wire can honor exactly:
  * ADDITIVE, NULLABLE columns of BIGINT, DOUBLE, or STRING (round 11;
  * BIGINT-only before).
  *
  *  - `_schema.gelsc` registers each added column with the manifest
  *    VERSION it was added at and its TYPE, so schema is a function of
  *    the view: the live table exposes every added column, a `VERSION
  *    AS OF` table pinned before the add still reads its own narrower
  *    schema (old audits see old shapes — the reproducibility
  *    contract).
  *  - Files written AFTER the add carry a GRAFTEL3 header naming the
  *    extra columns present in that file WITH their type codes (and a
  *    per-file value dictionary for STRING lanes); each record then
  *    appends a fixed-width (presence byte, int64) pair per extra —
  *    the payload is the value, the IEEE-754 bits, or the dictionary
  *    index, so record arithmetic never depends on type. Files from
  *    BEFORE the add (GRAFTEL1, or GRAFTEL3 missing the column) read
  *    under the new schema with NULL fill — no rewrite, ever.
  *  - INCOMPATIBLE changes refuse loudly: dropping or retyping a
  *    column would change what already-written bytes mean
  *    ([[dropColumn]] / [[retypeColumn]] name the bound); so do
  *    additions outside [[SupportedTypes]] (a 64-bit lane carries
  *    exactly these three exactly).
  *  - EVERY operation carries the added lanes: appends and scans,
  *    compaction and Z-order (in-task and distributed), deletion
  *    vectors, BOTH merge strategies (their batches must then carry
  *    all added columns — MERGE replaces whole rows, and a narrower
  *    batch would silently null lanes; refused), the typed CDC feed
  *    (GRAFTCD3 parts journal typed lane values), SQL row-level
  *    rewrites, the exactly-once streaming sink, metadata aggregates,
  *    time travel, and the plain changes feed.
  *
  * Registry wire (big-endian): magic "GRAFTSC2" | int32 n | n × (utf
  * name | int64 addedAtVersion | int8 typeCode). Temp-and-rename, like
  * every other store metadata file. */
object EventLogSchema {

  private val Magic = "GRAFTSC2".getBytes("US-ASCII")
  val RegistryName = "_schema.gelsc"

  /** Supported added-column types and their wire codes. The wire is
    * fixed-width, so exactly the types a 64-bit lane can carry
    * exactly: BIGINT (the value), DOUBLE (its IEEE-754 bits), STRING
    * (a per-file dictionary index). */
  val SupportedTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(
    org.apache.spark.sql.types.LongType,
    org.apache.spark.sql.types.DoubleType,
    org.apache.spark.sql.types.StringType)

  def codeOf(dt: org.apache.spark.sql.types.DataType): Byte = dt match {
    case org.apache.spark.sql.types.LongType => EventLog.ExtraBigint
    case org.apache.spark.sql.types.DoubleType => EventLog.ExtraDouble
    case org.apache.spark.sql.types.StringType => EventLog.ExtraString
    case other => throw new IllegalArgumentException(
      s"graft-eventlog: added columns are BIGINT, DOUBLE, or STRING " +
        s"(the fixed-width wire contract); got ${other.simpleString}")
  }

  def dtypeOf(code: Byte): org.apache.spark.sql.types.DataType =
    code match {
      case EventLog.ExtraBigint => org.apache.spark.sql.types.LongType
      case EventLog.ExtraDouble => org.apache.spark.sql.types.DoubleType
      case EventLog.ExtraString => org.apache.spark.sql.types.StringType
    }

  case class AddedCol(name: String, addedAt: Long,
      dtype: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType) {
    /** This column as the file wire sees it. */
    def wire: EventLog.ExtraCol = EventLog.ExtraCol(name, codeOf(dtype))
  }

  def registryFile(dir: String): java.io.File =
    new java.io.File(dir, RegistryName)

  /** Every added column, oldest first; empty for a base-schema store. */
  def read(dir: String): Seq[AddedCol] = {
    val f = registryFile(dir)
    if (!EventLog.fs.isFile(f)) return Nil
    val in = new DataInputStream(
      new BufferedInputStream(EventLog.fs.openRead(f), 1 << 12))
    try {
      EventLog.requireMagic(in, Magic,
        s"graft-eventlog: $RegistryName has bad magic — not a schema " +
          "registry")
      (0 until in.readInt()).map { _ =>
        val name = EventLog.readUtf(in)
        val at = in.readLong()
        AddedCol(name, at, dtypeOf(in.readByte()))
      }
    } finally in.close()
  }

  /** The added columns VISIBLE at manifest version `v` (those added at
    * or before it). */
  def readAsOf(dir: String, v: Long): Seq[AddedCol] =
    read(dir).filter(_.addedAt <= v)

  private def write(dir: String, cols: Seq[AddedCol]): Unit = {
    val tmp = new java.io.File(dir,
      s".inprogress.schema.${java.util.UUID.randomUUID()}")
    val o = new DataOutputStream(
      new BufferedOutputStream(EventLog.fs.openWrite(tmp), 1 << 12))
    try {
      o.write(Magic)
      o.writeInt(cols.length)
      cols.foreach { c =>
        EventLog.writeUtf(o, c.name)
        o.writeLong(c.addedAt)
        o.writeByte(codeOf(c.dtype))
      }
    } finally o.close()
    if (!EventLog.fs.rename(tmp, registryFile(dir)))
      throw new java.io.IOException(
        s"graft-eventlog: could not commit $RegistryName in $dir")
  }

  /** Re-key the registry to a FRESH history (a truncating overwrite
    * reset the manifest log): the same columns, all visible from
    * version `addedAt` on — the overwrite job's own GRAFTEL3 files
    * must stay readable under the schema they were validated
    * against. */
  def resetAt(dir: String, cols: Seq[AddedCol], addedAt: Long = 0L): Unit =
    synchronized { write(dir, cols.map(_.copy(addedAt = addedAt))) }

  /** Register `name` as a new nullable column of `dtype` (BIGINT,
    * DOUBLE, or STRING), visible from the store's CURRENT version on
    * (older versions keep their narrower schema). Refuses duplicates,
    * base-name collisions, non-identifier names, and unsupported
    * types. */
  def addColumn(dir: String, name: String,
      dtype: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType): AddedCol = synchronized {
    codeOf(dtype) // refuse unsupported types before any other check
    require(name.matches("[a-zA-Z_][a-zA-Z0-9_]*"),
      s"graft-eventlog: '$name' is not a plain identifier")
    require(!EventLog.Schema.fieldNames.contains(name),
      s"graft-eventlog: $name is a base column — it already exists")
    require(!name.startsWith("_"),
      s"graft-eventlog: $name collides with the metadata column space " +
        "(_change_type, _commit_version, …)")
    val cur = read(dir)
    require(!cur.exists(_.name == name),
      s"graft-eventlog: column $name was already added (at version " +
        s"${cur.find(_.name == name).get.addedAt})")
    val col = AddedCol(name, EventLog.currentVersion(dir), dtype)
    write(dir, cur :+ col)
    col
  }

  /** Dropping a column would change what already-written GRAFTEL3
    * bytes mean — every reader of every retained version shares the
    * registry. Refused, permanently and loudly. */
  def dropColumn(dir: String, name: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-eventlog: cannot drop column $name — files already encode " +
        "it positionally and retained versions still read it; write the " +
        "projection you want into a NEW store instead")

  /** Same class of refusal as [[dropColumn]]: the wire is fixed-width
    * int64, and reinterpreting written bytes is corruption with extra
    * steps. */
  def retypeColumn(dir: String, name: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-eventlog: cannot change the type of $name — added columns " +
        "are nullable BIGINT by the fixed-width wire contract; cast in " +
        "the query, or write a new store")

  /** The Spark schema of the store at `view`: base columns plus the
    * added columns visible at that version (nullable, each its own
    * registered type). */
  def schemaOf(dir: String, view: EventLog.TimeView)
      : org.apache.spark.sql.types.StructType = {
    val added = view match {
      case EventLog.TimeView.AsOf(v) => readAsOf(dir, v)
      case _ => read(dir)
    }
    org.apache.spark.sql.types.StructType(
      EventLog.Schema.fields ++ added.map(c =>
        org.apache.spark.sql.types.StructField(c.name, c.dtype,
          nullable = true)))
  }

}
