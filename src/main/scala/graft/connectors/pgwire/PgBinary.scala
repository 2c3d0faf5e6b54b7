package graft.connectors.pgwire

import java.nio.charset.StandardCharsets.UTF_8

/** PostgreSQL BINARY wire value formats — the documented send/recv
  * representations (PostgreSQL docs "COPY ... WITH (FORMAT binary)" and
  * each type's `typsend`/`typreceive` functions; all integers big-endian), plus
  * pgvector's published binary format (pgvector README / `vector_send`:
  * uint16 dim, uint16 unused = 0, then dim float4s).
  *
  * Why binary is the wire face's only data format: vectors are the
  * dominant bytes on a migration, and the text form (`[0.12345678,...]`,
  * ~9-13 chars per component) costs 2-3× the bytes of float4 binary. For
  * TEXT-typed columns the binary form is the raw UTF-8 bytes (no
  * `\N`/backslash escaping pass at all), so binary COPY also keeps a
  * per-character escape scan off the hot path.
  *
  * Everything below is pure byte math on arrays — no socket, no state —
  * so the encoders/decoders are unit-tested offline byte for byte, and
  * the live round trip (PgLiveWireSpec) only has to pin the framing. */
object PgBinary {

  // ---- well-known built-in type OIDs (pg_type.h — stable since v7) ----
  val OidBool = 16
  val OidBytea = 17
  val OidInt8 = 20
  val OidInt2 = 21
  val OidInt4 = 23
  val OidText = 25
  val OidFloat4 = 700
  val OidFloat8 = 701
  val OidVarchar = 1043
  val OidBpchar = 1042
  val OidName = 19

  /** OIDs whose BINARY result format this module decodes to a string
    * byte-identical with the server's TEXT output — the negotiation
    * whitelist: a column with any other OID (numeric, timestamp, json,
    * arrays, ...) keeps result format 0 so its text rendering stays the
    * server's own. The `vector` OID is extension-assigned (not stable),
    * so it rides in as a parameter where known. */
  def textExactOids(vectorOid: Option[Int]): Set[Int] =
    Set(OidBool, OidInt8, OidInt2, OidInt4, OidText, OidVarchar, OidBpchar,
      OidName) ++ vectorOid

  // ---- primitive big-endian writers ----
  def int16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  def int32(v: Int): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  def int64(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(v).array()

  private def readInt16(b: Array[Byte], at: Int): Int =
    ((b(at) & 0xff) << 8) | (b(at + 1) & 0xff)
  private def readInt32(b: Array[Byte], at: Int): Int =
    ((b(at) & 0xff) << 24) | ((b(at + 1) & 0xff) << 16) |
      ((b(at + 2) & 0xff) << 8) | (b(at + 3) & 0xff)

  // ---- value send (client -> server binary parameter / COPY field) ----
  /** TEXT/VARCHAR binary format IS the raw UTF-8 bytes. NUL is rejected
    * here — the one place the wire data path turns a string into bytes:
    * PostgreSQL text cannot carry it (silently stripping one would alter
    * user data), and binary framing reaching the server first would turn
    * the client-side contract error into a server-side 22021. */
  def textSend(v: String): Array[Byte] = {
    require(!v.contains('\u0000'),
      "PostgreSQL text values cannot carry NUL (\\u0000) bytes")
    v.getBytes(UTF_8)
  }
  def int2Send(v: Short): Array[Byte] = int16(v.toInt)
  def int4Send(v: Int): Array[Byte] = int32(v)
  def int8Send(v: Long): Array[Byte] = int64(v)
  def float4Send(v: Float): Array[Byte] = int32(java.lang.Float.floatToIntBits(v))
  def float8Send(v: Double): Array[Byte] = int64(java.lang.Double.doubleToLongBits(v))
  def boolSend(v: Boolean): Array[Byte] = Array(if (v) 1.toByte else 0.toByte)

  /** pgvector `vector_send`: uint16 dim, uint16 unused (0), dim float4s.
    * 4 bytes per component vs ~9-13 text chars — the whole point. */
  def vectorSend(v: Array[Float]): Array[Byte] = {
    require(v.length <= 0xffff, s"vector dimension ${v.length} exceeds uint16")
    val b = java.nio.ByteBuffer.allocate(4 + 4 * v.length)
    b.putShort(v.length.toShort)
    b.putShort(0.toShort)
    v.foreach(b.putFloat)
    b.array()
  }

  // ---- value recv (server binary result -> client) ----
  def textRecv(b: Array[Byte]): String = new String(b, UTF_8)
  def int2Recv(b: Array[Byte]): Short = readInt16(b, 0).toShort
  def int4Recv(b: Array[Byte]): Int = readInt32(b, 0)
  def int8Recv(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b).getLong
  def float4Recv(b: Array[Byte]): Float =
    java.lang.Float.intBitsToFloat(readInt32(b, 0))
  def float8Recv(b: Array[Byte]): Double =
    java.nio.ByteBuffer.wrap(b).getDouble
  def boolRecv(b: Array[Byte]): Boolean = b(0) != 0

  def vectorRecv(b: Array[Byte]): Array[Float] = {
    val buf = java.nio.ByteBuffer.wrap(b)
    val dim = buf.getShort & 0xffff
    buf.getShort // unused
    if (b.length != 4 + 4 * dim)
      throw new PgWireException("08P01",
        s"malformed vector binary value: dim $dim but ${b.length} bytes")
    Array.fill(dim)(buf.getFloat)
  }

  /** Decode ONE binary column value to the string the server's TEXT
    * format would have produced — only for OIDs in [[textExactOids]]
    * (that is the negotiation contract; anything else is a client bug).
    * The `vector` OID decodes through [[PgVectorCodec]]'s own float
    * rendering: downstream consumes it via `textToVector`, so only the
    * float VALUES matter, not the rendering. */
  def recvToText(oid: Int, vectorOid: Option[Int], b: Array[Byte]): String =
    oid match {
      case OidText | OidVarchar | OidBpchar | OidName => textRecv(b)
      case OidInt8 => int8Recv(b).toString
      case OidInt4 => int4Recv(b).toString
      case OidInt2 => int2Recv(b).toString
      case OidBool => if (boolRecv(b)) "t" else "f"
      case o if vectorOid.contains(o) =>
        graft.connectors.PgVectorCodec.renderText(vectorRecv(b))
      case other => throw new PgWireException("XX000",
        s"BUG: binary result for un-negotiated type OID $other")
    }

  // ---- COPY BINARY framing ----
  /** The documented 19-byte header: signature "PGCOPY\n\377\r\n\0",
    * int32 flags = 0 (no OIDs), int32 header-extension length = 0. */
  val copyHeader: Array[Byte] =
    "PGCOPY\n".getBytes(UTF_8) ++ Array(0xff.toByte, '\r'.toByte, '\n'.toByte, 0.toByte) ++
      int32(0) ++ int32(0)

  /** File trailer: int16 -1 in place of a tuple's field count. */
  val copyTrailer: Array[Byte] = int16(-1)

  /** One tuple: int16 field count, then per field int32 byte length
    * (-1 = NULL) + the bytes. Appended straight into the caller's chunk
    * buffer — no per-tuple array allocation. */
  def writeTuple(buf: java.io.ByteArrayOutputStream,
                 fields: Array[Array[Byte]]): Unit = {
    buf.write(int16(fields.length), 0, 2)
    fields.foreach { f =>
      if (f == null) buf.write(int32(-1), 0, 4)
      else { buf.write(int32(f.length), 0, 4); buf.write(f, 0, f.length) }
    }
  }
}
