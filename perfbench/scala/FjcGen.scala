package graft.bench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets

import graft.pipeline.FjcPipeline

/** Seeded synthetic FJC IDB extract: the 46-column TSV that
  * `FjcPipeline.runAll` ingests. Dim code columns draw their codes from
  * `FjcPipeline.dims`, so each dim table ends up with its real row
  * count; every column family carries its sentinel share (`-8`, the
  * TRANS* letter junk, AMTREC/JUDGMENT `0`), blank fields, unparseable
  * dates and numbers, and some string fields embed NUL bytes.
  *
  * Usage: FjcGen <seed> <rows> <out.tsv>
  */
object FjcGen {
  private val dimCodes: Map[String, IndexedSeq[String]] =
    FjcPipeline.dims.map { case (_, (codeCol, _, mapping)) =>
      codeCol -> mapping.map(_._1.toString).distinct.toIndexedSeq
    }.toMap

  private val dateCols = Set("FILEDATE", "FDATEUSE", "TRANSDAT", "TERMDATE", "TDATEUSE")
  private val transCols = Set("TRANSOFF", "TRANSDOC", "TRANSORG")
  private val transJunk = IndexedSeq("J", "A", "B", "C", "H", "S", "W", "P", "F", "M", "G", "s")
  private val badDates = IndexedSeq("13/1/2001", "2/30/2001", "1/5/01", "2001-05-03",
    "0/10/1999", "UNKNOWN", "00/00/0000")
  private val names = IndexedSeq("SMITH", "JONES", "UNITED STATES", "ACME CORP",
    "DOE", "STATE OF OHIO", "GARCIA", "LEE", "CITY OF AUSTIN", "BANK OF NY")

  def main(args: Array[String]): Unit = {
    val Array(seed, rows, out) = args
    write(seed.toLong, rows.toInt, out)
  }

  def write(seed: Long, rows: Int, out: String): Unit = {
    val rnd = new java.util.Random(seed * 1000003L + 17L)
    val cols = FjcPipeline.rawColumns
    val sb = new java.lang.StringBuilder(1 << 16)
    val os = new BufferedOutputStream(new FileOutputStream(out), 1 << 20)
    def flush(): Unit = {
      os.write(sb.toString.getBytes(StandardCharsets.ISO_8859_1)); sb.setLength(0)
    }
    sb.append(cols.mkString("\t")).append('\n')
    def pick(xs: IndexedSeq[String]): String = xs(rnd.nextInt(xs.size))
    def date(): String = {
      val y = 1990 + rnd.nextInt(33); val m = 1 + rnd.nextInt(12); val d = 1 + rnd.nextInt(28)
      if (rnd.nextBoolean()) s"$m/$d/$y" else f"$m%02d/$d%02d/$y"
    }
    def value(c: String): String = {
      val u = rnd.nextDouble()
      if (dimCodes.contains(c)) {
        val codes = dimCodes(c)
        // a hot head over a uniform body: every code still appears
        if (u < 0.04) "-8" else if (u < 0.06) ""
        else if (u < 0.30) codes(rnd.nextInt(math.min(3, codes.size)))
        else pick(codes)
      } else if (dateCols(c)) {
        if (u < 0.05) "" else if (u < 0.09) "-8" else if (u < 0.12) pick(badDates) else date()
      } else if (transCols(c)) {
        if (u < 0.50) "" else if (u < 0.70) pick(transJunk) else if (u < 0.75) "-8"
        else (1 + rnd.nextInt(99)).toString
      } else c match {
        case "AMTREC" =>
          if (u < 0.30) "0" else if (u < 0.40) "-8" else if (u < 0.41) "X9"
          else (1 + rnd.nextInt(99999)).toString
        case "DOCKET" => if (u < 0.02) "-8" else rnd.nextInt(999999).toString
        case "COUNTY" | "DEMANDED" | "CLASSACT" =>
          if (u < 0.05) "-8" else if (u < 0.08) "" else if (u < 0.09) "N/A"
          else rnd.nextInt(9999).toString
        case "TAPEYEAR" => if (u < 0.01) "-8" else (1990 + rnd.nextInt(34)).toString
        case "OFFICE" => if (u < 0.03) "-8" else f"${rnd.nextInt(99)}%02d"
        case "PLT" | "DEF" =>
          val n = pick(names)
          if (u < 0.05) "-8" else if (u < 0.07) n + "\u0000INC" else n
        case "MDLDOCK" => if (u < 0.85) "-8" else f"${rnd.nextInt(9999)}%04d"
        case "IFP" => if (u < 0.60) "-8" else pick(IndexedSeq("A", "P", "D"))
        case _ =>
          if (u < 0.20) "" else if (u < 0.22) "x\u0000y" else rnd.nextInt(100000).toString
      }
    }
    var r = 0
    while (r < rows) {
      var i = 0
      while (i < cols.size) {
        if (i > 0) sb.append('\t')
        sb.append(value(cols(i)))
        i += 1
      }
      sb.append('\n')
      if (sb.length > (1 << 16)) flush()
      r += 1
    }
    flush()
    os.close()
  }
}
