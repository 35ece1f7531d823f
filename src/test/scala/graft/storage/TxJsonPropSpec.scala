package graft.storage

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import TxLog.{ColMap, DvEntry, EqDelEntry, Manifest}
import TxStats.{ColStat, FileStats}

/** Round trip of the manifest and view codecs: `decode(encode(x)) == x`
  * for generated values whose strings carry quotes, backslashes,
  * control characters, non-ASCII text and key-shaped text — in writer
  * ids, string zone-map bounds and property values alike. */
object TxJsonProps extends Properties("TxJson") {

  private val keyShaped = "\", \"batch_id\": 9, \"files\": [\"x\"]"
  private val controls = ((0 until 32).map(_.toChar) :+ '\u007f').mkString

  private val piece: Gen[String] = Gen.frequency(
    3 -> Gen.alphaNumStr.map(_.take(6)),
    2 -> Gen.oneOf("\"", "\\", "\\u0041", keyShaped, "}", "]", ": ", ", ", "é", "漢字",
      "😀", "\u2028", "\ufeff"),
    2 -> Gen.oneOf(controls.map(_.toString)))
  private val str: Gen[String] =
    Gen.choose(0, 5).flatMap(Gen.listOfN(_, piece)).map(_.mkString)
  private def few[T](g: Gen[T]): Gen[Seq[T]] = Gen.choose(0, 3).flatMap(Gen.listOfN(_, g))
  private val pair: Gen[(String, String)] = Gen.zip(str, str)
  private val anyLong: Gen[Long] = Gen.choose(Long.MinValue, Long.MaxValue)
  private val natural: Gen[Long] = Gen.oneOf(Gen.choose(0L, 1000L), Gen.choose(0L, Long.MaxValue))
  // the codec's "absent" markers: -1 (ts, nrid, rid) and 0 (bytes)
  private val orAbsent: Gen[Long] = Gen.oneOf(Gen.const(-1L), natural)

  private val colStat: Gen[ColStat] = for {
    c <- str; t <- str; has <- Gen.oneOf(true, false); mn <- str; mx <- str
    n <- anyLong; kmv <- few(anyLong); exact <- Gen.oneOf(true, false)
  } yield ColStat(c, t, has, mn, mx, n, kmv, exact)

  private val fileStats: Gen[FileStats] = for {
    f <- str; rows <- anyLong; cols <- few(colStat)
    bytes <- Gen.oneOf(Gen.const(0L), Gen.choose(1L, Long.MaxValue))
    parts <- few(pair); rid <- orAbsent
  } yield FileStats(f, rows, cols, bytes, parts, rid)

  private val manifest: Gen[Manifest] = for {
    version <- natural; files <- few(str); writerId <- str; batchId <- anyLong
    checkpoint <- Gen.oneOf(true, false); stats <- few(fileStats); removes <- few(str)
    schema <- Gen.option(str); tokens <- few(Gen.zip(str, anyLong))
    pcols <- few(str); changes <- few(str); props <- Gen.option(few(pair))
    ts <- orAbsent; dvs <- few(Gen.zip(str, str, anyLong).map((DvEntry.apply _).tupled))
    cmap <- Gen.option(Gen.zip(few(pair), few(str)).map((ColMap.apply _).tupled))
    eqdels <- few(Gen.zip(str, few(str), anyLong).map((EqDelEntry.apply _).tupled))
    eqdrops <- few(str); branch <- Gen.option(str); adopts <- few(natural)
    nextRid <- orAbsent
  } yield Manifest(version, files, writerId, batchId, checkpoint, stats, removes,
    schema, tokens, pcols, changes, props, ts, dvs, cmap, eqdels, eqdrops, branch,
    adopts, nextRid)

  private val view: Gen[GraftViews.Stored] = for {
    sql <- str; cat <- str; ns <- few(str); schema <- str; qcols <- few(str)
    aliases <- few(str); comments <- few(str); props <- few(pair)
  } yield GraftViews.Stored(sql, cat, ns, schema, qcols, aliases, comments, props.toMap)

  property("manifest: decode(encode(m)) == m") = forAll(manifest) { m =>
    TxJson.decodeManifest(TxJson.encodeManifest(m)) == m
  }

  property("view: decode(encode(v)) == v") = forAll(view) { v =>
    TxJson.decodeView(TxJson.encodeView(v)) == v
  }

  property("every control character round-trips in every string slot") = Prop {
    val s = s"$controls$keyShaped"
    val m = Manifest(1L, Seq(s), s, 2L, checkpoint = false, ts = 5L,
      stats = Seq(FileStats(s, 1L, Seq(ColStat(s, s, has = true, s, s, 0L, exact = true)))),
      props = Some(Seq(s -> s)), schema = Some(s), branch = Some(s))
    val v = GraftViews.Stored(s, s, Seq(s), s, Seq(s), Seq(s), Seq(s), Map(s -> s))
    TxJson.decodeManifest(TxJson.encodeManifest(m)) == m &&
      TxJson.decodeView(TxJson.encodeView(v)) == v
  }
}
