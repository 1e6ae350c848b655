package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.text.Normalizer
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

/** Seeded inputs for the customs daily batch, plus the outputs the three
  * pipelines must produce from them.
  *
  * Layout under `out`:
  *  - `inbox/decl.zip`: the day's declaration XML members, one bill
  *    each, with the FIXTURES.md section 1 edge cases: duplicate HAWB_NO inside a bill,
  *    blank HAWB_NO rows, non-numeric QTY, dirty DCL_DOC_NO, a `__MACOSX/`
  *    member and a member that is not XML.
  *  - `manifests/`: old and new layouts, each as CSV and as XLSX, with
  *    merged (blank) HAWB cells, junk A1 cells, and one broken file.
  *  - `expected.tsv`: landed row counts, the rejected file, bill linkage
  *    counts and the knowledge base the vote must produce.
  *
  * Bills carry planted majority mappings (each informal description maps
  * to one official description in about 70% of items and to a rival in
  * the rest); some bills have mismatched item counts and must be dropped
  * by the count gate. Item counts and bill kinds follow the bill number,
  * so every seed produces the same number of rows and only the content
  * varies. Zip entries carry a fixed timestamp, so one seed always gives
  * byte-identical files. */
object CustomsGen {

  final case class Item(informal: String, official: String, ccc: String)
  final case class Bill(mawb: String, hawbManifest: String, hawbDecl: String,
                        items: Seq[Item], declExtra: Seq[Item],
                        manifestExtra: Seq[Item], inManifest: Boolean,
                        inDecl: Boolean)

  private val prefixes = Seq("USB", "LED", "PVC", "PET", "ABS", "EVA", "TPU", "PU")
  private val nouns = Seq("风扇", "手機殼", "紙袋", "膠帶", "杯子", "燈", "玩具",
    "線材", "收納盒", "貼紙")
  private val officials = Seq("風扇配件", "塑膠製品", "紙製品", "膠帶", "玻璃杯",
    "照明設備", "玩具", "電線", "收納用品", "標籤", "家用器具", "電子零件")

  /** The engine's description normalization, re-derived independently:
    * NFKC, upper case, last `/` segment, punctuation to space, collapse. */
  def normalize(s: String): String = {
    val up = Normalizer.normalize(s, Normalizer.Form.NFKC).toUpperCase(java.util.Locale.ROOT)
    val seg = up.split("/", -1).last
    seg.replaceAll("[^\\p{L}\\p{N}_\\s]", " ").replaceAll("\\s+", " ").trim
  }

  private def fullWidth(s: String): String =
    s.map(c => if (c >= '!' && c <= '~') (c + 0xFEE0).toChar else c)

  /** One informal spelling of `base`; every variant normalizes to the same key. */
  private def variant(base: String, rnd: Random): String = rnd.nextInt(6) match {
    case 0 => base.toLowerCase(java.util.Locale.ROOT)
    case 1 => fullWidth(base)
    case 2 => "gift/" + base
    case 3 => base + "!"
    case _ => base
  }

  // One daily batch, sized and mixed like the reference's own traffic
  // (sources in perfbench/NOTES.md, "customs_daily inputs").
  /** Bills in the day's declaration zip, one XML member each. */
  private val Bills = 1050
  /** `BID_HEAD`s per member cycle through 1 to this (mean 3). */
  private val MaxHeads = 5
  /** Per mille of bills that fail the count gate. */
  private val GateFailPerMille = 8
  /** Unit counts of the reference's sample zip, used as weights. */
  private val UnitWeights = Seq("PCE" -> 5491, "NPR" -> 127, "KPC" -> 6)
  /** Per mille of bills only in the manifests, and of bills only in the
    * declarations (an edge case of the generator's own). */
  private val OneSidedPerMille = 10

  private def unit(rnd: Random): String = {
    val r = rnd.nextInt(UnitWeights.map(_._2).sum)
    UnitWeights.scanLeft(("", 0)) { case ((_, acc), (u, w)) => (u, acc + w) }
      .tail.find(_._2 > r).get._1
  }

  def generate(seed: Long, out: File): Unit = {
    val rnd = new Random(seed)
    val bases = rnd.shuffle(for (p <- prefixes; n <- nouns) yield p + n).take(40)
    val mapping = bases.map { b =>
      val o = rnd.shuffle(officials).take(2)
      val ccc = Seq.fill(2)(f"${rnd.nextInt(9000) + 1000}%04d.${rnd.nextInt(100)}%02d." +
        f"${rnd.nextInt(100)}%02d.00-${rnd.nextInt(10)}")
      b -> Seq((o(0), ccc(0)), (o(1), ccc(1)))
    }.toMap
    def item(): Item = {
      val b = bases(rnd.nextInt(bases.size))
      val (off, ccc) = mapping(b)(if (rnd.nextDouble() < 0.7) 0 else 1)
      Item(variant(b, rnd), off, ccc)
    }

    // one MAWB, and one manifest file, per kind (old/new layout x csv/xlsx)
    val kinds = for (layout <- Seq("old", "new"); fmt <- Seq("csv", "xlsx"))
      yield (layout, fmt)
    val mawbs = kinds.indices.map { k =>
      f"${if (kinds(k)._1 == "old") "IPC" else "SEA"}${seed % 1000}%03d$k%05dEX" }
    val allBills = (1 to Bills).map { billNo =>
      val hawb = f"H$billNo%06d"
      // keys differing only by case, space, slash or dash must link
      val hawbDecl = rnd.nextInt(5) match {
        case 0 => hawb.toLowerCase(java.util.Locale.ROOT)
        case 1 => hawb.take(3) + "-" + hawb.drop(3)
        case 2 => hawb.take(4) + " " + hawb.drop(4)
        case _ => hawb
      }
      // sizes and kinds follow the bill number, so every seed lands the same rows
      val items = Seq.fill(1 + billNo % MaxHeads)(item())
      val r = billNo * 37 % 1000
      val gateFail = GateFailPerMille / 2
      Bill(mawbs((billNo - 1) * kinds.size / Bills), hawb, hawbDecl, items,
        declExtra = if (r < gateFail) Seq(item()) else Nil,
        manifestExtra = if (r >= gateFail && r < 2 * gateFail) Seq(item()) else Nil,
        inManifest = !(r >= GateFailPerMille + OneSidedPerMille &&
          r < GateFailPerMille + 2 * OneSidedPerMille),
        inDecl = !(r >= GateFailPerMille && r < GateFailPerMille + OneSidedPerMille))
    }
    val files = kinds.zip(mawbs).map { case ((layout, fmt), mawb) =>
      (layout, fmt, mawb, rnd.nextInt(3) == 0, allBills.filter(b => b.mawb == mawb && b.inManifest))
    }

    val manifestDir = new File(out, "manifests"); manifestDir.mkdirs()
    var manifestRows = 0L
    for ((layout, fmt, mawb, junkA1, bills) <- files) {
      val a1 = if (junkA1) "主提單號碼:" else mawb
      val rows = bills.flatMap { b =>
        (b.items ++ b.manifestExtra).zipWithIndex.map { case (it, i) =>
          (if (i == 0) b.hawbManifest else "", i + 1, it) // merged HAWB cells
        }
      }
      manifestRows += rows.size
      val grid: Seq[Seq[String]] = if (layout == "old") {
        Seq(Seq(a1, "x", "x"), Seq("junk1"), Seq("junk2"),
          Seq("分提單號碼", "貨物編號", "货物名称", "數量", "數量單位", "淨重",
            "單價金額", "發票總金額", "進口人英文名稱")) ++
          rows.map { case (h, n, it) =>
            val q = 1 + rnd.nextInt(40); val p = 1 + rnd.nextInt(500)
            Seq(h, n.toString, it.informal, q.toString, unit(rnd),
              (q * 0.25).toString, p.toString, (p * q).toString, "ACME TRADING")
          }
      } else {
        Seq(Seq(a1), Seq("junk"),
          Seq("A", "B", "C", "DESC", "E", "F", "G", "H", "I", "QTY", "UNIT", "L",
            "M", "PRICE", "TOTAL")) ++
          rows.map { case (h, _, it) =>
            val q = 1 + rnd.nextInt(40); val p = 1 + rnd.nextInt(500)
            Seq(h, "", "", it.informal, "", "", "", "", "", q.toString,
              unit(rnd), "", "", p.toString, (p * q).toString)
          }
      }
      val f = new File(manifestDir, s"$mawb.$fmt")
      if (fmt == "csv") Files.write(f.toPath, csv(grid).getBytes(UTF_8))
      else Files.write(f.toPath, xlsx(grid))
    }
    Files.write(new File(manifestDir, "broken.csv").toPath,
      "not,a,manifest\nat,all,\n".getBytes(UTF_8))

    // the day's declaration zip: one member per bill
    val inbox = new File(out, "inbox"); inbox.mkdirs()
    var declRows = 0L
    var bidHeads = 0L
    val members = allBills.filter(_.inDecl).zipWithIndex.map { case (b, i) =>
      val items = b.items ++ b.declExtra
      val blankAt = if (i % 10 == 0) rnd.nextInt(items.size + 1) else -1
      val heads = mutable.ArrayBuffer.empty[String]
      items.zipWithIndex.foreach { case (it, k) =>
        if (k == blankAt) heads += bidHead(b.mawb, "  ", it, rnd)
        heads += bidHead(b.mawb, b.hawbDecl, it, rnd)
      }
      if (blankAt == items.size) heads += bidHead(b.mawb, "", items.head, rnd)
      declRows += items.size
      bidHeads += heads.size
      f"m$i%05d.xml" -> declarationXml(heads.toSeq)
    }
    val junk = Seq(
      "__MACOSX/._m00000.xml" -> Array[Byte](0, 5, 22, 7, 0, 2, 0, 0),
      "readme.txt" -> "daily export\n".getBytes(UTF_8))
    Files.write(new File(inbox, "decl.zip").toPath, zip(members ++ junk))

    // what the pipelines must produce
    val aKeys = allBills.filter(_.inManifest).map(key).toSet
    val linked = allBills.filter(b => b.inManifest && b.inDecl)
    val gated = linked.filter(b => b.declExtra.isEmpty && b.manifestExtra.isEmpty)
    val votes = gated.flatMap(_.items)
      .groupBy(it => (normalize(it.informal), it.official, it.ccc))
      .map { case (k, v) => k -> v.size.toLong }
    val kb = votes.groupBy(_._1._1).toSeq.map { case (desc, vs) =>
      val ((_, off, ccc), n) = vs.toSeq.minBy { case ((_, o, c), n) => (-n, o, c) }
      (desc, off, ccc, n)
    }.sortBy(_._1)
    require(aKeys.size == allBills.count(_.inManifest), "link keys must be unique")
    val lines = Seq(
      s"decl_rows\t$declRows", s"bid_heads\t$bidHeads",
      s"manifest_rows\t$manifestRows", "rejected\tbroken.csv",
      s"bills_linked\t${linked.size}", s"bills_gated\t${gated.size}",
      s"aligned_pairs\t${gated.map(_.items.size).sum}") ++
      kb.map { case (d, o, c, n) => s"kb\t$d\t$o\t$c\t$n" }
    Files.write(new File(out, "expected.tsv").toPath,
      lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  private def key(b: Bill): String = {
    def clean(s: String) = s.replaceAll("[ \\t\\n\u000B\\f\\r/-]", "").toUpperCase(java.util.Locale.ROOT)
    clean(b.mawb) + "_" + clean(b.hawbManifest)
  }

  private def bidHead(mawb: String, hawb: String, it: Item, rnd: Random): String = {
    val qty = if (rnd.nextInt(12) == 0) "N/A" else s"${1 + rnd.nextInt(50)}.0"
    val amt = s"${10 + rnd.nextInt(5000)}.0"
    val doc = s"BY/  /${10 + rnd.nextInt(90)}/${rnd.nextInt(1000)} /FUSZH"
    s"<BID_HEAD><DCL_DOC_NO>$doc</DCL_DOC_NO><IMPORT_DATE>2025-03-22T00:00:00+08:00" +
      s"</IMPORT_DATE><DCL_DATE>2025-03-21T00:00:00+08:00</DCL_DATE>" +
      s"<DOC_DATE>2025-03-20T00:00:00+08:00</DOC_DATE><MAWB>$mawb</MAWB><HAWB_NO>$hawb</HAWB_NO><FLY_NO>CI0${rnd.nextInt(90) + 10}" +
      s"</FLY_NO><DESCRIPTION>${it.official}</DESCRIPTION><CLASSIFY_NO>${it.ccc}</CLASSIFY_NO>" +
      s"<QTY>$qty</QTY><QTY_UM>${unit(rnd)}</QTY_UM><PAY_TAX_AMT>$amt</PAY_TAX_AMT>" +
      s"<FOB_AMT_TWD>$amt</FOB_AMT_TWD><IMPORT_DUTY_RATE>5</IMPORT_DUTY_RATE>" +
      s"<CNEE_BAN_ID>${10000000 + rnd.nextInt(9000000)}</CNEE_BAN_ID>" +
      s"<CNEE_E_NAME>ACME TRADING</CNEE_E_NAME><SHPR_E_NAME>SHENZHEN EXPORT</SHPR_E_NAME>" +
      s"<FROM_CODE>CNSZX</FROM_CODE></BID_HEAD>"
  }

  /** A `GicDataSet` document: embedded schema (which names BID_HEAD as an
    * `xs:element`, not as data), the line items, and an ignored section. */
  private def declarationXml(heads: Seq[String]): Array[Byte] =
    ("<?xml version=\"1.0\" encoding=\"UTF-8\"?><GicDataSet>" +
      "<xs:schema xmlns:xs=\"http://www.w3.org/2001/XMLSchema\">" +
      "<xs:element name=\"BID_HEAD\"><xs:complexType/></xs:element></xs:schema>" +
      "<BID_HEAD-array>" + heads.mkString("\n") + "</BID_HEAD-array>" +
      "<COMP_DATA><COMP_NAME>SEA EXPRESS</COMP_NAME></COMP_DATA></GicDataSet>")
      .getBytes(UTF_8)

  private def csv(grid: Seq[Seq[String]]): String =
    grid.map(_.map { c =>
      if (c.exists(ch => ch == ',' || ch == '"' || ch == '\n'))
        "\"" + c.replace("\"", "\"\"") + "\"" else c
    }.mkString(",")).mkString("", "\n", "\n")

  private def zip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val z = new ZipOutputStream(buf)
    for ((name, body) <- entries) {
      val e = new ZipEntry(name)
      e.setTime(315532800000L) // 1980-01-01: fixed, so output is byte-stable
      z.putNextEntry(e); z.write(body); z.closeEntry()
    }
    z.close()
    buf.toByteArray
  }

  private def colRef(c: Int): String = {
    var n = c + 1
    val sb = new StringBuilder
    while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Minimal single-sheet workbook: numbers as `<v>`, text inline. */
  private def xlsx(grid: Seq[Seq[String]]): Array[Byte] = {
    val rows = grid.zipWithIndex.map { case (cs, r) =>
      val cells = cs.zipWithIndex.collect { case (v, c) if v.nonEmpty =>
        val ref = s"${colRef(c)}${r + 1}"
        if (v.matches("-?[0-9]+(\\.[0-9]+)?")) s"""<c r="$ref"><v>$v</v></c>"""
        else s"""<c r="$ref" t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
      }.mkString
      s"""<row r="${r + 1}">$cells</row>"""
    }.mkString
    zip(Seq(
      "xl/workbook.xml" ->
        ("""<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
          """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          """<sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>""")
          .getBytes(UTF_8),
      "xl/_rels/workbook.xml.rels" ->
        ("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""")
          .getBytes(UTF_8),
      "xl/worksheets/sheet1.xml" ->
        ("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
          s"<sheetData>$rows</sheetData></worksheet>").getBytes(UTF_8)))
  }
}
