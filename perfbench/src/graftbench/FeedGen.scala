package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

/** One raw source table as written to disk: a header and rows of cells, in
  * file order. A row shorter or longer than the header is ragged.
  */
final case class RawTable(header: Vector[String], rows: Vector[Vector[String]])

/** A supplier feed: its config message, the files it reads, and the
  * expected output computed from the values written.
  */
final case class Feed(
    id: Int,
    kind: String, // csv | xlsx | multi
    typeIds: Seq[Int],
    rows: Int, // data rows written, all files
    dupRatio: Double,
    raggedRows: Int,
    rules: Seq[(String, String, Option[String])], // target, source, merge rule
    files: Seq[(String, RawTable)], // relative path, content
    configFor: (Long, Int) => String // (supplier id, version) -> config json
)

/** Seeded supplier-feed generator plus a plain-Scala model of the
  * reference pipeline (read, map/clean, keyed merge) that computes each
  * feed's expected output from the raw values. No Spark or graft code runs
  * here, so a graft bug cannot hide in its own expectation.
  */
object FeedGen {

  /** The strata of one pass: many small feeds, a few large ones, each with
    * its row count, kind and key-duplication ratio. The work of a pass is
    * fixed; the seed draws the values, keys, dirty cells, ragged rows,
    * type ids, merge rules and the order. A handful of large feeds set the
    * p90 latency, so nothing that moves a feed's cost by itself (its size,
    * its duplicates, an XLSX or CSV base under a multi-source feed) is
    * left to the seed: it would spread the metrics over seeds, not over
    * builds.
    */
  private val Strata: Seq[(Int, String, Double)] = Seq(
    (1000, "csv", 0.30), (1200, "xlsx", 0.10), (1500, "multi/xlsx", 0.45), (2000, "csv", 0.05),
    (2500, "csv", 0.60), (3000, "xlsx", 0.35), (4000, "multi/csv", 0.20), (5000, "csv", 0.50),
    (6500, "csv", 0.15), (8000, "xlsx", 0.55), (12000, "multi/xlsx", 0.25), (25000, "csv", 0.40),
    (60000, "csv", 0.30), (150000, "csv", 0.20))

  private val WarmStrata: Seq[(Int, String, Double)] =
    Seq((800, "csv", 0.3), (800, "xlsx", 0.3), (800, "multi/csv", 0.3))

  /** The seeded feed list of one pass, in the order they are sent. */
  def pass(seed: Long): Seq[Feed] = {
    val order = new SplittableRandom(seed ^ 0x5eedL)
    val feeds = Strata.zipWithIndex.map { case ((n, kind, dup), i) => feed(seed, i, n, kind, dup) }
    shuffle(feeds, order)
  }

  def warmup(seed: Long): Seq[Feed] =
    WarmStrata.zipWithIndex.map { case ((n, kind, dup), i) => feed(seed + 7919L, 100 + i, n, kind, dup) }

  private def shuffle[T: scala.reflect.ClassTag](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  private def feed(seed: Long, idx: Int, rows: Int, kind: String, dup: Double): Feed = {
    val r = new SplittableRandom(seed * 1000003L + idx)
    val ragged = 0.03 * r.nextDouble()
    val priceRule = Seq(None, Some("min"), Some("max"))(r.nextInt(3))
    val qtyRule = Seq(None, Some("max"), Some("addArray"))(r.nextInt(3))
    val rules = Seq(("upc", "sku", None), ("price", "cost", priceRule),
      ("qty", "stock", qtyRule), ("name", "title", None))
    val upcBase = 100000000000L + r.nextLong(800000000000L)
    val nKeys = math.max(1, math.round(rows * (1 - dup)).toInt)
    def sku(): String = {
      val u = (upcBase + r.nextInt(nKeys)).toString
      val roll = r.nextInt(1000)
      if (roll < 5) "-" // cleans to an empty key: dropped
      else if (roll < 300) s"${u.take(1)}-${u.slice(1, 6)}-${u.slice(6, 11)}-${u.drop(11)}"
      else u
    }
    def cost(): String = {
      val c = 100 + r.nextInt(50000)
      val s = f"${c / 100}%d.${c % 100}%02d"
      r.nextInt(20) match {
        case 0 | 1 | 2 | 3 => s.replace('.', ',')
        case 4 | 5 | 6     => s + " usd"
        case 7 | 8 | 9     => "$" + s
        case _             => s
      }
    }
    def stock(): String = {
      val q = r.nextInt(1000)
      if (r.nextInt(10) == 0) s"$q pcs" else q.toString
    }
    def raggedCut(row: Vector[String]): (Vector[String], Boolean) =
      if (r.nextDouble() >= ragged) (row, false)
      else if (r.nextBoolean()) (row :+ "x", true)
      else (row.dropRight(1), true)
    def table(n: Int, header: Vector[String], cell: Int => Vector[String], xlsx: Boolean): (RawTable, Int) = {
      var raggedN = 0
      val rs = Vector.tabulate(n) { i =>
        val whole = cell(i)
        val (row, cut) = raggedCut(whole)
        // an xlsx row cannot be longer than its sheet's used width without
        // widening the header, so only short ragged rows go there
        if (cut && !(xlsx && row.size > header.size)) { raggedN += 1; row } else whole
      }
      (RawTable(header, rs), raggedN)
    }
    val full = Vector("sku", "cost", "stock", "title")
    def item(): Vector[String] = Vector(sku(), cost(), stock(), s"item-${r.nextInt(nKeys)}")
    kind match {
      case "csv" | "xlsx" =>
        val xlsx = kind == "xlsx"
        val typeId = if (xlsx) Seq(4, 6)(r.nextInt(2)) else Seq(2, 7)(r.nextInt(2))
        val (t, rag) = table(rows, full, _ => item(), xlsx)
        val path = s"feeds/f$idx.${if (xlsx) "xlsx" else "csv"}"
        Feed(idx, kind, Seq(typeId), rows, dup, rag, rules, Seq(path -> t),
          (sid, ver) => config(sid, ver, idx, Some(typeId), json(path), rules))
      case "multi/csv" | "multi/xlsx" =>
        val baseXlsx = kind == "multi/xlsx"
        val baseType = if (baseXlsx) Seq(4, 6)(r.nextInt(2)) else Seq(2, 7)(r.nextInt(2))
        val subType = Seq(2, 7)(r.nextInt(2))
        val (base, rag1) = table(rows, Vector("sku", "cost", "title"),
          _ => { val it = item(); Vector(it(0), it(1), it(3)) }, baseXlsx)
        val baseSkus = base.rows.map(_.head)
        val subRows = math.max(50, rows * 6 / 10)
        val (sub, rag2) = table(subRows, Vector("sku", "stock"), _ => {
          val k = if (r.nextInt(10) < 8) baseSkus(r.nextInt(baseSkus.size)) else sku()
          Vector(k, stock())
        }, xlsx = false)
        val basePath = s"feeds/f${idx}_base.${if (baseXlsx) "xlsx" else "csv"}"
        val subPath = s"feeds/f${idx}_stock.csv"
        val src = s"""[{"type_id":$baseType,"filename":${json(basePath)},"key":"sku","fields":[]},""" +
          s"""{"type_id":$subType,"filename":${json(subPath)},"key":"sku","fields":["stock"]}]"""
        Feed(idx, "multi", Seq(baseType, subType), rows + subRows, dup, rag1 + rag2, rules,
          Seq(basePath -> base, subPath -> sub),
          (sid, ver) => config(sid, ver, idx, None, src, rules))
    }
  }

  private def json(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def config(sid: Long, ver: Int, idx: Int, typeId: Option[Int], source: String,
                     rules: Seq[(String, String, Option[String])]): String = {
    val rs = rules.map {
      case (t, s, None)    => s"${json(t)}:${json(s)}"
      case (t, s, Some(m)) => s"${json(t)}:[${json(s)},${json(m)}]"
    }.mkString("{", ",", "}")
    s"""{"supplier_id":$sid,"name":"feed-$idx","type_id":${typeId.fold("null")(_.toString)},""" +
      s""""source":$source,"range":null,"column_map_rules":$rs,"version":$ver}"""
  }

  // ---- writers -------------------------------------------------------------

  def write(root: Path, feeds: Seq[Feed]): Unit = feeds.foreach(_.files.foreach { case (rel, t) =>
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, if (rel.endsWith(".xlsx")) xlsx(t) else csv(t))
  })

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  def csv(t: RawTable): Array[Byte] = {
    val sb = new StringBuilder
    (t.header +: t.rows).foreach(r => sb.append(r.map(csvCell).mkString(",")).append('\n'))
    sb.toString.getBytes(UTF_8)
  }

  private def xml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def colName(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + ('A' + i % 26).toChar

  private val Numeric = "^[0-9]{1,9}(\\.[0-9]+)?$".r

  /** Minimal single-sheet workbook: inline-string and number cells, fixed
    * zip timestamps so the same table always gives the same bytes.
    */
  def xlsx(t: RawTable): Array[Byte] = {
    val sheet = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    (t.header +: t.rows).zipWithIndex.foreach { case (row, ri) =>
      sheet.append(s"""<row r="${ri + 1}">""")
      row.zipWithIndex.foreach { case (v, ci) =>
        val ref = s"${colName(ci)}${ri + 1}"
        // header and keys stay strings; a plain number is a number cell
        if (ri > 0 && ci > 0 && Numeric.matches(v)) sheet.append(s"""<c r="$ref"><v>$v</v></c>""")
        else sheet.append(s"""<c r="$ref" t="inlineStr"><is><t>${xml(v)}</t></is></c>""")
      }
      sheet.append("</row>")
    }
    sheet.append("</sheetData></worksheet>")
    val parts = Seq(
      "[Content_Types].xml" ->
        """<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>""",
      "_rels/.rels" ->
        """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""",
      "xl/workbook.xml" ->
        """<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Feed" sheetId="1" r:id="rId1"/></sheets></workbook>""",
      "xl/_rels/workbook.xml.rels" ->
        """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""",
      "xl/worksheets/sheet1.xml" -> sheet.toString)
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    parts.foreach { case (name, body) =>
      val e = new ZipEntry(name)
      e.setTime(315532800000L)
      zos.putNextEntry(e)
      zos.write(body.getBytes(UTF_8))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  // ---- expectation model -----------------------------------------------------

  /** Cells a reader sees for one table: CSV skips ragged rows and reads an
    * empty field as null; a short xlsx row reads its missing cells as null.
    */
  private def readRows(path: String, t: RawTable): Vector[Map[String, String]] = {
    val n = t.header.size
    if (path.endsWith(".csv"))
      t.rows.filter(_.size == n).map(r => t.header.zip(r.map(v => if (v.isEmpty) null else v)).toMap)
    else t.rows.map(r => t.header.zipWithIndex.map { case (h, i) => h -> r.lift(i).orNull }.toMap)
  }

  private def keep(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '.' ||
      (c >= 'а' && c <= 'я') || (c >= 'А' && c <= 'Я')

  def cleanUpc(s: String): String = if (s == null) null else s.filter(keep).take(13)

  def cleanInt(s: String): Long =
    if (s == null) 0L
    else {
      val d = s.filter(c => c >= '0' && c <= '9')
      if (d.isEmpty) 0L else scala.util.Try(d.toLong).getOrElse(0L)
    }

  private val FloatPrefix = "^([0-9]*\\.?[0-9]*)".r.unanchored

  def cleanFloat(s: String): Double =
    if (s == null) 0.0
    else {
      val t = s.replace(',', '.').filter(keep).filter(c => (c >= '0' && c <= '9') || c == '.')
      t match {
        case FloatPrefix(p) => scala.util.Try(p.toDouble).getOrElse(0.0)
        case _              => 0.0
      }
    }

  private def clean(target: String, v: String): Any = target match {
    case "upc"   => cleanUpc(v)
    case "price" => cleanFloat(v)
    case "qty"   => cleanInt(v)
    case _       => v
  }

  /** Last-write-wins keyed dedupe: per key (non-null, non-empty), each
    * field from the row with the greatest order; returns (key, row, order).
    */
  private def lastWins(rows: Seq[(Map[String, Any], Long)], key: String): Map[Any, (Map[String, Any], Long)] =
    rows.filter { case (m, _) => m(key) != null && m(key).toString.nonEmpty }
      .groupBy(_._1(key)).map { case (k, rs) => k -> rs.maxBy(_._2) }

  /** Expected produced rows, keyed by upc: field → value (null fields are
    * absent, as the JSON writer omits them).
    */
  def expected(f: Feed, supplierId: Long, version: Int): Map[String, Map[String, Any]] = {
    val tables = f.files.map { case (p, t) => readRows(p, t) }
    val raw: Seq[(Map[String, Any], Long)] =
      if (f.kind != "multi") tables.head.zipWithIndex.map { case (m, i) => (m: Map[String, Any], i.toLong) }
      else {
        val base = lastWins(tables(0).zipWithIndex.map { case (m, i) => (m: Map[String, Any], i.toLong) }, "sku")
        val sub = lastWins(tables(1).zipWithIndex.map { case (m, i) => (m: Map[String, Any], i.toLong) }, "sku")
        base.values.toSeq.map { case (m, ord) => (m + ("stock" -> sub.get(m("sku")).map(_._1("stock")).orNull), ord) }
      }
    val mapped = raw.map { case (m, ord) =>
      (f.rules.map { case (t, s, _) => t -> clean(t, m.getOrElse(s, null).asInstanceOf[String]) }.toMap +
        ("supplier_id" -> supplierId) + ("version" -> version.toLong), ord)
    }
    val ruleOf = f.rules.flatMap { case (t, _, m) => m.map(t -> _) }.toMap
    mapped.filter { case (m, _) => m("upc") != null && m("upc").toString.nonEmpty }
      .groupBy(_._1("upc")).map { case (k, rs) =>
        val fields = rs.head._1.keys.filter(_ != "upc").map { fld =>
          val v: Any = ruleOf.get(fld) match {
            case Some("min") => rs.map(_._1(fld)).minBy(_.asInstanceOf[Double])(Ordering.Double.TotalOrdering)
            case Some("max") if fld == "price" =>
              rs.map(_._1(fld)).maxBy(_.asInstanceOf[Double])(Ordering.Double.TotalOrdering)
            case Some("max") => rs.map(_._1(fld).asInstanceOf[Long]).max
            case Some("addArray") => rs.flatMap(r => Option(r._1(fld)).map(_.toString)).sorted.mkString(",")
            case _ => rs.maxBy(_._2)._1(fld)
          }
          fld -> v
        }.filter(_._2 != null).toMap
        k.toString -> (fields + ("upc" -> k))
      }
  }
}
