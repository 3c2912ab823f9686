package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.{Dims, Quality}

/** The reference's medallion ELT pipeline (SURVEY.md §3.1 EP1),
  * re-expressed Spark-first: TSV ingest with an explicit all-STRING
  * schema (`export_svg.py:143-205`) → quality-zone projection with
  * sentinel→NULL/cast/date-parse (`export_svg.py:207-253`) → trusted
  * zone (verbatim copy, `export_svg.py:255-268`) → 15 dimension
  * tables (`export_svg.py:270-701`).
  *
  * Where the reference submits sequential SQL strings to a warehouse,
  * here each zone is a DataFrame transform: Catalyst fuses the whole
  * quality projection into one whole-stage-codegen pass over the scan,
  * and the 15 dims come from ONE aggregate over the trusted zone
  * ([[Dims.buildDims]]) where the reference runs 15 CTAS scans.
  */
object FjcPipeline {

  /** 46-column ingest schema, all STRING NULLABLE
    * (`export_svg.py:150-197`, `autodetect=False`). */
  val rawColumns: Seq[String] = Seq(
    "CIRCUIT", "DISTRICT", "OFFICE", "DOCKET", "ORIGIN", "FILEDATE",
    "FDATEUSE", "JURIS", "NOS", "TITL", "SECTION", "SUBSECT", "RESIDENC",
    "JURY", "CLASSACT", "DEMANDED", "FILEJUDG", "FILEMAG", "COUNTY",
    "ARBIT", "MDLDOCK", "PLT", "DEF", "TRANSDAT", "TRANSOFF", "TRANSDOC",
    "TRANSORG", "TERMDATE", "TDATEUSE", "TRCLACT", "TERMJUDG", "TERMMAG",
    "PROCPROG", "DISP", "NOJ", "AMTREC", "JUDGMENT", "DJOINED",
    "PRETRIAL", "TRIBEGAN", "TRIALEND", "TRMARB", "PROSE", "IFP",
    "STATUSCD", "TAPEYEAR")

  val rawSchema: StructType =
    StructType(rawColumns.map(c => StructField(c, StringType, nullable = true)))

  /** S3: TSV scan — explicit schema, 1 header row, tab delimiter, no
    * inference (`export_svg.py:198-203`). Spark reads `.gz` sources
    * transparently (the reference's separate gunzip step, S2). */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(rawSchema)
      .option("header", "true")
      .option("sep", "\t")
      .csv(path)

  /** S2: NUL-byte sanitize (`export_svg.py:107-113` pipes the file
    * through `tr '\0' ' '` before load). Equivalent post-parse form:
    * replace NUL with space in every string column. */
  def sanitize(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map {
      case f if f.dataType == StringType => Quality.stripNul(col(f.name)).as(f.name)
      case f => col(f.name)
    }.toSeq: _*)

  private val transSentinels =
    Seq("-8", "J", "A", "B", "C", "H", "S", "W", "P", "F", "M", "G", "s")

  /** Quality-zone projection: 34 columns, sentinel→NULL (P3), sentinel
    * +cast (P4), multi-sentinel junk lists (P5), `m/d/yyyy`→DATE (F3)
    * — semantics of `export_svg.py:209-246` column by column. */
  def quality(raw: DataFrame): DataFrame = {
    import Quality._
    val s8 = Seq("-8")
    raw.select(
      sentinelCast(col("CIRCUIT"), s8, LongType).as("CIRCUIT"),
      sentinelNull(col("DISTRICT"), s8).as("DISTRICT"),
      sentinelNull(col("OFFICE"), s8).as("OFFICE"),
      sentinelCast(col("DOCKET"), s8, LongType).as("DOCKET"),
      sentinelCast(col("ORIGIN"), s8, LongType).as("ORIGIN"),
      parseDateMdy(col("FILEDATE")).as("FILEDATE"),
      parseDateMdy(col("FDATEUSE")).as("FDATEUSE"),
      sentinelCast(col("JURIS"), s8, LongType).as("JURIS"),
      sentinelCast(col("NOS"), s8, LongType).as("NOS"),
      sentinelCast(col("RESIDENC"), s8, LongType).as("RESIDENC"),
      sentinelNull(col("JURY"), s8).as("JURY"),
      sentinelCast(col("CLASSACT"), s8, LongType).as("CLASSACT"),
      sentinelCast(col("DEMANDED"), s8, LongType).as("DEMANDED"),
      sentinelCast(col("COUNTY"), s8, LongType).as("COUNTY"),
      sentinelNull(col("MDLDOCK"), s8).as("MDLDOCK"),
      sentinelNull(col("PLT"), s8).as("PLT"),
      sentinelNull(col("DEF"), s8).as("DEF"),
      parseDateMdy(col("TRANSDAT")).as("TRANSDAT"),
      sentinelCast(col("TRANSOFF"), transSentinels, LongType).as("TRANSOFF"),
      sentinelCast(col("TRANSDOC"), transSentinels, LongType).as("TRANSDOC"),
      sentinelCast(col("TRANSORG"), transSentinels, LongType).as("TRANSORG"),
      parseDateMdy(col("TERMDATE")).as("TERMDATE"),
      parseDateMdy(col("TDATEUSE")).as("TDATEUSE"),
      sentinelCast(col("TRCLACT"), s8, LongType).as("TRCLACT"),
      sentinelCast(col("PROCPROG"), s8, LongType).as("PROCPROG"),
      sentinelCast(col("DISP"), s8, LongType).as("DISP"),
      sentinelCast(col("NOJ"), s8, LongType).as("NOJ"),
      sentinelCast(col("AMTREC"), Seq("-8", "0"), LongType).as("AMTREC"),
      sentinelCast(col("JUDGMENT"), Seq("-8", "0"), LongType).as("JUDGMENT"),
      sentinelNull(col("TRMARB"), s8).as("TRMARB"),
      sentinelCast(col("PROSE"), s8, LongType).as("PROSE"),
      sentinelNull(col("IFP"), s8).as("IFP"),
      sentinelNull(col("STATUSCD"), s8).as("STATUSCD"),
      sentinelCast(col("TAPEYEAR"), s8, LongType).as("TAPEYEAR"))
  }

  /** Trusted zone: verbatim copy of quality (`export_svg.py:257-261`). */
  def trusted(qualityDf: DataFrame): DataFrame = qualityDf

  /** The 15 dimension decode maps (SURVEY.md §2.5 D1–D15), keyed by
    * dim table name → (code column, label column, code→label map).
    * Unmatched codes decode to NULL (CASE-without-ELSE parity). */
  val dims: Seq[(String, Dims.Spec)] = Seq(
    // D1 `export_svg.py:275-293`
    "DimCircuit" -> (("CIRCUIT", "CIRCUIT_NAME", Seq[(Any, String)](
      0 -> "District of Columbia", 1 -> "First Circuit",
      2 -> "Second Circuit", 3 -> "Third Circuit", 4 -> "Fourth Circuit",
      5 -> "Fifth Circuit", 6 -> "Sixth Circuit", 7 -> "Seventh Circuit",
      8 -> "Eighth Circuit", 9 -> "Ninth Circuit", 10 -> "Tenth Circuit",
      11 -> "Eleventh Circuit"))),
    // D2 `export_svg.py:295-395` (94 districts)
    "DimDistrict" -> (("DISTRICT", "DISTRICT_NAME", Seq[(Any, String)](
      "00" -> "Maine", "01" -> "Massachusetts", "02" -> "New Hampshire",
      "03" -> "Rhode Island", "04" -> "Puerto Rico", "05" -> "Connecticut",
      "06" -> "New York - Northern", "07" -> "New York - Eastern",
      "08" -> "New York - Southern", "09" -> "New York - Western",
      "10" -> "Vermont", "11" -> "Delaware", "12" -> "New Jersey",
      "13" -> "Pennsylvania - Eastern", "14" -> "Pennsylvania - Middle",
      "15" -> "Pennsylvania - Western", "16" -> "Maryland",
      "17" -> "North Carolina - Eastern", "18" -> "North Carolina - Middle",
      "19" -> "North Carolina - Western", "20" -> "South Carolina",
      "22" -> "Virginia - Eastern", "23" -> "Virginia - Western",
      "24" -> "West Virginia - Northern", "25" -> "West Virginia - Southern",
      "26" -> "Alabama - Northern", "27" -> "Alabama - Middle",
      "28" -> "Alabama - Southern", "29" -> "Florida - Northern",
      "3A" -> "Florida - Middle", "3C" -> "Florida - Southern",
      "3E" -> "Georgia - Northern", "3G" -> "Georgia - Middle",
      "3J" -> "Georgia - Southern", "3L" -> "Louisiana - Eastern ",
      "3N" -> "Louisiana - Middle", "36" -> "Louisiana - Western",
      "37" -> "Mississippi - Northern", "38" -> "Mississippi - Southern",
      "39" -> "Texas - Northern", "40" -> "Texas - Eastern",
      "41" -> "Texas - Southern", "42" -> "Texas - Western",
      "43" -> "Kentucky - Eastern", "44" -> "Kentucky - Western",
      "45" -> "Michigan - Eastern", "46" -> "Michigan - Western",
      "47" -> "Ohio - Northern", "48" -> "Ohio - Southern",
      "49" -> "Tennessee - Eastern", "50" -> "Tennessee - Middle",
      "51" -> "Tennessee - Western", "52" -> "Illinois - Northern",
      "53" -> "Illinois - Central", "54" -> "Illinois - Southern",
      "55" -> "Indiana - Northern", "56" -> "Indiana - Southern",
      "57" -> "Wisconsin - Eastern", "58" -> "Wisconsin - Western",
      "60" -> "Arkansas - Eastern", "61" -> "Arkansas - Western",
      "62" -> "Iowa - Northern", "63" -> "Iowa - Southern",
      "64" -> "Minnesota", "65" -> "Missouri - Eastern",
      "66" -> "Missouri - Western", "67" -> "Nebraska",
      "68" -> "North Dakota", "69" -> "South Dakota", "7-" -> "Alaska",
      "70" -> "Arizona", "71" -> "California - Northern",
      "72" -> "California - Eastern", "73" -> "California - Central",
      "74" -> "California - Southern", "75" -> "Hawaii", "76" -> "Idaho",
      "77" -> "Montana", "78" -> "Nevada", "79" -> "Oregon",
      "80" -> "Washington - Eastern", "81" -> "Washington - Western",
      "82" -> "Colorado", "83" -> "Kansas", "84" -> "New Mexico",
      "85" -> "Oklahoma - Northern", "86" -> "Oklahoma - Eastern",
      "87" -> "Oklahoma - Western", "88" -> "Utah", "89" -> "Wyoming",
      "90" -> "District of Columbia", "91" -> "Virgin Islands",
      "93" -> "Guam", "94" -> "Northern Mariana Islands"))),
    // D3 `export_svg.py:397-416`
    "DimOrigin" -> (("ORIGIN", "ORIGIN_NAME", Seq[(Any, String)](
      1 -> "original proceeding", 2 -> "removed",
      3 -> "remanded for further action", 4 -> "reinstated/reopened",
      5 -> "transferred from another district", 6 -> "multi district litigation",
      7 -> "appeal to a district judge of a magistrate judges decision",
      8 -> "second reopen", 9 -> "third reopen", 10 -> "fourth reopen",
      11 -> "fifth reopen", 12 -> "sixth reopen",
      13 -> "multi district litigation originating in the district"))),
    // D4 `export_svg.py:418-429`
    "DimJuris" -> (("JURIS", "JURIS_NAME", Seq[(Any, String)](
      1 -> "US government plaintiff", 2 -> "US government defendant",
      3 -> "federal question", 4 -> "diversity of citizenship",
      5 -> "local question"))),
    // D5 `export_svg.py:431-547` (102 NOS codes)
    "DimNos" -> (("NOS", "NOS_NAME", Seq[(Any, String)](
      110 -> "INSURANCE", 120 -> "MARINE CONTRACT ACTIONS",
      130 -> "MILLER ACT", 140 -> "NEGOTIABLE INSTRUMENTS",
      150 -> "OVERPAYMENTS & ENFORCEMENT OF JUDGMENTS",
      151 -> "OVERPAYMENTS UNDER THE MEDICARE ACT",
      152 -> "RECOVERY OF DEFAULTED STUDENT LOANS",
      153 -> "RECOVERY OF OVERPAYMENTS OF VET BENEFITS",
      160 -> "STOCKHOLDER S SUITS", 190 -> "OTHER CONTRACT ACTIONS",
      195 -> "CONTRACT PRODUCT LIABILITY", 196 -> "CONTRACT FRANCHISE",
      210 -> "LAND CONDEMNATION", 220 -> "FORECLOSURE",
      230 -> "RENT, LEASE, EJECTMENT", 240 -> "TORTS TO LAND",
      245 -> "TORT PRODUCT LIABILITY", 290 -> "OTHER REAL PROPERTY ACTIONS",
      310 -> "AIRPLANE PERSONAL INJURY", 315 -> "AIRPLANE PRODUCT LIABILITY",
      320 -> "ASSAULT, LIBEL, AND SLANDER", 330 -> "FEDERAL EMPLOYERS LIABILITY",
      340 -> "MARINE PERSONAL INJURY", 345 -> "MARINE - PRODUCT LIABILITY",
      350 -> "MOTOR VEHICLE PERSONAL INJURY",
      355 -> "MOTOR VEHICLE PRODUCT LIABILITY", 360 -> "OTHER PERSONAL INJURY",
      362 -> "MEDICAL MALPRACTICE", 365 -> "PERSONAL INJURY -PRODUCT LIABILITY",
      367 -> "HEALTH CARE / PHARM", 368 -> "ASBESTOS PERSONAL INJURY - PROD.LIAB.",
      370 -> "OTHER FRAUD", 371 -> "TRUTH IN LENDING",
      375 -> "FALSE CLAIMS ACT", 380 -> "OTHER PERSONAL PROPERTY DAMAGE",
      385 -> "PROPERTY DAMAGE -PRODUCT LIABILTY", 400 -> "STATE RE-APPORTIONMENT",
      410 -> "ANTITRUST", 422 -> "BANKRUPTCY APPEALS RULE 28 USC 158",
      423 -> "BANKRUPTCY WITHDRAWAL 28 USC 157", 430 -> "BANKS AND BANKING",
      440 -> "OTHER CIVIL RIGHTS", 441 -> "CIVIL RIGHTS VOTING",
      442 -> "CIVIL RIGHTS JOBS", 443 -> "CIVIL RIGHTS ACCOMMODATIONS",
      444 -> "CIVIL RIGHTS WELFARE", 445 -> "CIVIL RIGHTS ADA EMPLOYMENT",
      446 -> "CIVIL RIGHTS ADA OTHER", 448 -> "EDUCATION",
      450 -> "INTERSTATE COMMERCE", 460 -> "DEPORTATION",
      462 -> "NATURALIZATION, PETITION FOR HEARING OF DENIAL",
      463 -> "HABEAS CORPUS – ALIEN DETAINEE", 465 -> "OTHER IMMIGRATION ACTIONS",
      470 -> "CIVIL (RICO)", 480 -> "CONSUMER CREDIT",
      490 -> "CABLE/SATELLITE TV", 510 -> "PRISONER PETITIONS -VACATE SENTENCE",
      530 -> "PRISONER PETITIONS -HABEAS CORPUS",
      535 -> "HABEAS CORPUS: DEATH PENALTY",
      540 -> "PRISONER PETITIONS -MANDAMUS AND OTHER",
      550 -> "PRISONER -CIVIL RIGHTS", 555 -> "PRISONER - PRISON CONDITION",
      560 -> "CIVIL DETAINEE", 610 -> "AGRICULTURAL ACTS",
      620 -> "FOOD AND DRUG ACTS", 625 -> "DRUG RELATED SEIZURE OF PROPERTY",
      630 -> "LIQUOR LAWS", 640 -> "RAILROAD AND TRUCKS",
      650 -> "AIRLINE REGULATIONS", 660 -> "OCCUPATIONAL SAFETY/HEALTH",
      690 -> "OTHER FORFEITURE AND PENALTY SUITS",
      710 -> "FAIR LABOR STANDARDS ACT", 720 -> "LABOR/MANAGEMENT RELATIONS ACT",
      730 -> "LABOR/MANAGEMENT REPORT & DISCLOSURE", 740 -> "RAILWAY LABOR ACT",
      751 -> "FAMILY AND MEDICAL LEAVE ACT", 790 -> "OTHER LABOR LITIGATION",
      791 -> "EMPLOYEE RETIREMENT INCOME SECURITY ACT",
      810 -> "SELECTIVE SERVICE", 820 -> "COPYRIGHT", 830 -> "PATENT",
      840 -> "TRADEMARK", 850 -> "SECURITIES, COMMODITIES, EXCHANGE",
      860 -> "SOCIAL SECURITY", 861 -> "HIA (1395 FF)/ MEDICARE",
      862 -> "BLACK LUNG", 863 -> "D.I.W.C./D.I.W.W.", 864 -> "S.S.I.D.",
      865 -> "R.S.I.", 870 -> "TAX SUITS",
      871 -> "IRS 3RD PARTY SUITS 26 USC 7609",
      875 -> "CUSTOMER CHALLENGE 12 USC 3410", 890 -> "OTHER STATUTORY ACTIONS",
      891 -> "AGRICULTURAL ACTS", 892 -> "ECONOMIC STABILIZATION ACT",
      893 -> "ENVIRONMENTAL MATTERS", 894 -> "ENERGY ALLOCATION ACT",
      895 -> "FREEDOM OF INFORMATION ACT OF 1974", 896 -> "ARBITRATION",
      899 -> "ADMINISTRATIVE PROCEDURE ACT/REVIEW OR APPEAL OF AGENCY DECISION",
      900 -> "APPEAL OF FEE -EQUAL ACCESS TO JUSTICE",
      910 -> "DOMESTIC RELATIONS", 920 -> "INSANITY", 930 -> "PROBATE",
      940 -> "SUBSTITUTE TRUSTEE", 950 -> "CONSTITUTIONALITY OF STATE STATUTES",
      990 -> "OTHER", 992 -> "LOCAL JURISDICTIONAL APPEAL",
      999 -> "MISCELLANEOUS"))),
    // D6 `export_svg.py:549-561`
    "DimResidenc" -> (("RESIDENC", "RESIDENC_NAME", Seq[(Any, String)](
      1 -> "Citizen of this State", 2 -> "Citizen of another State",
      3 -> "Citizen or Subject of a Foreign Country",
      4 -> "Incorporated or principal place of business in this State",
      5 -> "Incorporated and principal place of business in another State",
      6 -> "Foreign Nation"))),
    // D7 `export_svg.py:563-573`
    "DimJury" -> (("JURY", "JURY_NAME", Seq[(Any, String)](
      "B" -> "Both plaintiff and defendant demand jury",
      "D" -> "Defendant demands jury", "P" -> "Plaintiff demands jury",
      "N" -> "Neither plaintiff nor defendant demands jury"))),
    // D8 `export_svg.py:575-583`
    "DimTrclact" -> (("TRCLACT", "TRCLACT_NAME", Seq[(Any, String)](
      2 -> "denied", 3 -> "granted"))),
    // D9 `export_svg.py:585-604` (note codes 1 and 3 share a label)
    "DimProcprog" -> (("PROCPROG", "PROCPROG_NAME", Seq[(Any, String)](
      1 -> "no court action", 2 -> "order entered", 3 -> "no court action",
      4 -> "judgement on motion", 5 -> "pretrial conference held",
      6 -> "during court trial", 7 -> "during jury trial",
      8 -> "after court trial", 9 -> "after jury trial", 10 -> "other",
      11 -> "hearing held", 12 -> "order decided",
      13 -> "request for trial de novo after arbitration"))),
    // D10 `export_svg.py:606-633` (codes 14 and 17 share label 'other')
    "DimDisp" -> (("DISP", "DISP_NAME", Seq[(Any, String)](
      0 -> "transfer to another district", 1 -> "remanded to state court",
      2 -> "want of prosecution", 3 -> "lack of jurisdiction",
      4 -> "default", 5 -> "consent", 6 -> "motion before trial",
      7 -> "jury verdict", 8 -> "directed verdict", 9 -> "court trial",
      10 -> "multi district litigation transfer",
      11 -> "remanded to U.S. Agency", 12 -> "voluntarily", 13 -> "settled",
      14 -> "other", 15 -> "award of arbitrator",
      16 -> "stayed pending bankruptcy", 17 -> "other",
      18 -> "statistical closing", 19 -> "appeal affirmed",
      20 -> "appeal denied"))),
    // D11 `export_svg.py:635-648`
    "DimNoj" -> (("NOJ", "NOJ_NAME", Seq[(Any, String)](
      0 -> "no monetary award", 1 -> "monetary award only",
      2 -> "monetary award and other", 3 -> "injunction",
      4 -> "forfeiture/foreclosure/condemnation, etc", 5 -> "costs only",
      6 -> "costs and attorney fees"))),
    // D12 `export_svg.py:650-660`
    "DimJudgment" -> (("JUDGMENT", "JUDGMENT_NAME", Seq[(Any, String)](
      1 -> "plaintiff", 2 -> "defendant", 3 -> "both", 4 -> "unknown"))),
    // D13 `export_svg.py:662-671`
    "DimTrmarb" -> (("TRMARB", "TRMARB_NAME", Seq[(Any, String)](
      "M" -> "mandatory", "V" -> "voluntary", "E" -> "exempt"))),
    // D14 `export_svg.py:673-683`
    "DimProse" -> (("PROSE", "PROSE_NAME", Seq[(Any, String)](
      0 -> "no Pro Se plaintiffs or defendants",
      1 -> "Pro Se plaintiffs, but no Pro Se defendants",
      2 -> "Pro Se defendants, but no Pro Se plaintiffs",
      3 -> "both Pro Se plaintiffs & defendants"))),
    // D15 `export_svg.py:685-693`
    "DimStatuscd" -> (("STATUSCD", "STATUSCD_NAME", Seq[(Any, String)](
      "S" -> "pending record", "L" -> "terminated record"))))

  /** Run the full pipeline: raw TSV → quality → trusted → 15 dims,
    * each zone written as parquet under `warehouseDir` with overwrite
    * (≙ WRITE_TRUNCATE, `export_svg.py:200,248,263`).
    *
    * Orchestrated through [[Runner]] as one sequential step list
    * (≙ the DAG chain `export_svg.py:703-716`): the three zones, then
    * `dims_aggregate` (the one trusted-zone aggregate behind every
    * dim), then one `dim_<Name>` write per dim, each a single file.
    * `onFailure` receives (step, error) like the Slack callback
    * (`helper.py:7-37`, see [[graft.Alerts.format]]). */
  def runAll(spark: SparkSession, rawPath: String, warehouseDir: String,
             onFailure: (String, Throwable) => Unit = (_, _) => ()): Unit = {
    var built: Seq[DataFrame] = Nil
    val steps = Seq(
      Runner.Step("ingest_raw", () =>
        sanitize(readRaw(spark, rawPath))
          .write.mode("overwrite").parquet(s"$warehouseDir/raw")),
      Runner.Step("quality_zone", () =>
        quality(spark.read.parquet(s"$warehouseDir/raw"))
          .write.mode("overwrite").parquet(s"$warehouseDir/quality")),
      Runner.Step("trusted_zone", () =>
        trusted(spark.read.parquet(s"$warehouseDir/quality"))
          .write.mode("overwrite").parquet(s"$warehouseDir/trusted")),
      Runner.Step("dims_aggregate", () =>
        built = Dims.buildDims(spark.read.parquet(s"$warehouseDir/trusted"),
          dims.map(_._2)))
    ) ++ dims.map(_._1).zipWithIndex.map { case (name, i) =>
      Runner.Step(s"dim_$name", () =>
        built(i).write.mode("overwrite").parquet(s"$warehouseDir/dims/$name"))
    }
    Runner.run(steps, onFailure)
  }
}
