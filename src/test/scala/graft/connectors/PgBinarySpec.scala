package graft.connectors

import org.scalatest.funsuite.AnyFunSuite
import graft.connectors.pgwire.{PgBinary, PgWireException}

/** Byte-exact offline verification of the PostgreSQL binary wire formats
  * ([[PgBinary]]) — framing and value codecs are pure byte math, so the
  * live spec only has to pin that a real server accepts/produces the
  * same bytes. */
class PgBinarySpec extends AnyFunSuite {

  test("COPY binary header is the documented 19 bytes") {
    val h = PgBinary.copyHeader
    assert(h.length == 19)
    // signature: "PGCOPY\n" 0xFF "\r\n" 0x00
    assert(h.take(11).toSeq == Seq[Byte]('P', 'G', 'C', 'O', 'P', 'Y', '\n',
      0xff.toByte, '\r', '\n', 0))
    // flags = 0, header extension length = 0
    assert(h.drop(11).toSeq == Seq.fill(8)(0.toByte))
  }

  test("COPY trailer is int16 -1") {
    assert(PgBinary.copyTrailer.toSeq == Seq(0xff.toByte, 0xff.toByte))
  }

  test("writeTuple: field count, length prefixes, -1 for NULL") {
    val buf = new java.io.ByteArrayOutputStream()
    PgBinary.writeTuple(buf, Array(Array[Byte]('h', 'i'), null, Array.emptyByteArray))
    val b = buf.toByteArray
    assert(b.toSeq == Seq[Byte](
      0, 3, // 3 fields
      0, 0, 0, 2, 'h', 'i', // 2-byte field
      -1, -1, -1, -1, // NULL
      0, 0, 0, 0)) // empty (NOT null): zero-length value
  }

  test("primitive send formats are big-endian") {
    assert(PgBinary.int8Send(1L).toSeq == Seq[Byte](0, 0, 0, 0, 0, 0, 0, 1))
    assert(PgBinary.int4Send(-1).toSeq == Seq.fill(4)(0xff.toByte))
    assert(PgBinary.int2Send(258.toShort).toSeq == Seq[Byte](1, 2))
    assert(PgBinary.float4Send(1.0f).toSeq == Seq[Byte](0x3f, 0x80.toByte, 0, 0))
    assert(PgBinary.float8Send(1.0).toSeq ==
      Seq[Byte](0x3f, 0xf0.toByte, 0, 0, 0, 0, 0, 0))
    assert(PgBinary.boolSend(true).toSeq == Seq[Byte](1))
    assert(PgBinary.boolSend(false).toSeq == Seq[Byte](0))
  }

  test("send/recv are inverses for every primitive") {
    assert(PgBinary.int8Recv(PgBinary.int8Send(Long.MinValue)) == Long.MinValue)
    assert(PgBinary.int4Recv(PgBinary.int4Send(Int.MaxValue)) == Int.MaxValue)
    assert(PgBinary.int2Recv(PgBinary.int2Send(-2)) == -2)
    assert(PgBinary.float8Recv(PgBinary.float8Send(-0.1)) == -0.1)
    assert(PgBinary.float4Recv(PgBinary.float4Send(3.14f)) == 3.14f)
    assert(PgBinary.boolRecv(PgBinary.boolSend(true)))
    assert(PgBinary.textRecv(PgBinary.textSend("héllo — ünïcode")) == "héllo — ünïcode")
  }

  test("vector binary format: uint16 dim + pad + float4s; bit-exact round trip") {
    val v = Array(1.5f, -2.25f, Float.MinPositiveValue, Float.NaN)
    val b = PgBinary.vectorSend(v)
    assert(b.length == 4 + 4 * v.length)
    assert(b.take(4).toSeq == Seq[Byte](0, 4, 0, 0)) // dim=4, unused=0
    val back = PgBinary.vectorRecv(b)
    // bit-exact, including the NaN payload (floatToIntBits canonicalizes
    // both sides the same way)
    assert(back.length == v.length)
    v.indices.foreach(i => assert(
      java.lang.Float.floatToIntBits(back(i)) == java.lang.Float.floatToIntBits(v(i))))
    // empty vector: dim 0, 4 bytes total
    assert(PgBinary.vectorSend(Array.emptyFloatArray).toSeq == Seq[Byte](0, 0, 0, 0))
    assert(PgBinary.vectorRecv(Array[Byte](0, 0, 0, 0)).isEmpty)
  }

  test("vector binary format matches pgvector's vector_send golden bytes") {
    // uint16 dim, uint16 unused = 0, then big-endian IEEE-754 float4s —
    // fixed bytes, so a swapped byte order cannot pass as a round trip
    val golden = Array(0x00, 0x02, 0x00, 0x00, 0x3f, 0x80, 0x00, 0x00,
      0xc0, 0x00, 0x00, 0x00).map(_.toByte)
    assert(PgBinary.vectorSend(Array(1.0f, -2.0f)).toSeq == golden.toSeq)
    assert(PgBinary.vectorRecv(golden).toSeq == Seq(1.0f, -2.0f))
    // a non-palindromic component pins the order WITHIN each float4:
    // 0.1f = 0x3DCCCCCD
    val tenth = Array(0x00, 0x01, 0x00, 0x00, 0x3d, 0xcc, 0xcc, 0xcd).map(_.toByte)
    assert(PgBinary.vectorSend(Array(0.1f)).toSeq == tenth.toSeq)
    assert(PgBinary.vectorRecv(tenth).toSeq == Seq(0.1f))
  }

  test("vectorRecv rejects a length-inconsistent frame typed") {
    val e = intercept[PgWireException](
      PgBinary.vectorRecv(Array[Byte](0, 3, 0, 0, 1, 2, 3, 4))) // dim 3, 1 float
    assert(e.sqlState == "08P01", e.getMessage)
  }

  test("recvToText renders the server's own text format per OID") {
    assert(PgBinary.recvToText(PgBinary.OidInt8, None, PgBinary.int8Send(-42L)) == "-42")
    assert(PgBinary.recvToText(PgBinary.OidInt4, None, PgBinary.int4Send(7)) == "7")
    assert(PgBinary.recvToText(PgBinary.OidInt2, None, PgBinary.int2Send(0)) == "0")
    assert(PgBinary.recvToText(PgBinary.OidBool, None, PgBinary.boolSend(true)) == "t")
    assert(PgBinary.recvToText(PgBinary.OidBool, None, PgBinary.boolSend(false)) == "f")
    assert(PgBinary.recvToText(PgBinary.OidText, None, PgBinary.textSend("a\tb")) == "a\tb")
    // the extension-assigned vector OID decodes through the codec's
    // renderer and survives textToVector downstream
    val txt = PgBinary.recvToText(9999, Some(9999),
      PgBinary.vectorSend(Array(1.5f, -2.25f)))
    assert(txt == "[1.5,-2.25]", txt)
  }

  test("recvToText on an un-negotiated OID is a typed client bug, not garbage") {
    val e = intercept[PgWireException](
      PgBinary.recvToText(1700 /* numeric */, None, Array[Byte](0)))
    assert(e.sqlState == "XX000" && e.getMessage.contains("1700"), e.getMessage)
  }

  test("textExactOids: float/numeric/json NEVER negotiate binary (their text " +
    "rendering is the server's)") {
    val ok = PgBinary.textExactOids(None)
    assert(!ok(PgBinary.OidFloat4) && !ok(PgBinary.OidFloat8))
    assert(!ok(1700) && !ok(114) && !ok(3802)) // numeric, json, jsonb
    assert(ok(PgBinary.OidText) && ok(PgBinary.OidInt8) && ok(PgBinary.OidBool))
    assert(PgBinary.textExactOids(Some(31337))(31337))
  }

  test("textSend rejects NUL like every text path") {
    val e = intercept[IllegalArgumentException](PgBinary.textSend("a\u0000b"))
    assert(e.getMessage.contains("NUL"))
  }
}
