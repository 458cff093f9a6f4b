package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}

/** One Sensitive Information Type — the 50-row dimension table
  * (`config.json:30-237`). 30 SITs carry detection regexes; 20 are
  * "TC-only" (`regex = ""`, `config.json:217-236`). */
case class SitDef(id: String, name: String, regex: String, tc: Seq[String])

/** `size_distribution` — word-count mixture (`config.json:6-12`). */
case class SizeDist(minWords: Int, maxWords: Int, mainRangeMin: Int,
                    mainRangeMax: Int, mainRangeShare: Double)

/** Pipeline parameters (`config.json:1-243`). Distribution maps are ordered
  * (bucket, weight) pairs — sampling walks the cumulative sum in order, like
  * `modules/meta_generator.py:9-17`. */
case class PipelineConfig(
    randomSeed: Long,
    perSitCount: Int,
    tpRatio: Double,
    formats: Seq[String],
    sizeDistribution: SizeDist,
    sitCountDistribution: Seq[(String, Double)],
    instanceCountDistribution: Seq[(String, Double)],
    sits: Seq[SitDef]) {

  /** Broadcastable 50-row dimension Dataset (SURVEY.md §1.1). */
  def sitDim(spark: SparkSession): Dataset[SitDef] = {
    import spark.implicits._
    spark.createDataset(sits)
  }
}

object PipelineConfig {

  private val BucketOrder = Seq("1", "2-3", "4-6", ">6", "3-5", "6-10", ">10")

  /** S1 — load a reference-format `config.json` (the file the reference's
    * four stages all parse, `modules/meta_generator.py:55-57`). Uses Spark's
    * multiLine JSON reader; distribution maps are re-ordered to the
    * canonical bucket order (JSON objects are unordered, but inverse-CDF
    * sampling walks buckets in sequence — `meta_generator.py:9-17`). */
  def fromJson(spark: SparkSession, path: String): PipelineConfig = {
    import org.apache.spark.sql.functions.col
    val row = spark.read.option("multiLine", "true").json(path).collect()(0)
    def mapOf(field: String): Seq[(String, Double)] = {
      val r = row.getAs[org.apache.spark.sql.Row](field)
      val pairs = r.schema.fieldNames.map(n => n -> r.getAs[Any](n) match {
        case (n2, d: java.lang.Double) => n2 -> d.doubleValue()
        case (n2, l: java.lang.Long)   => n2 -> l.doubleValue()
        case (n2, b: java.math.BigDecimal) => n2 -> b.doubleValue()
      }).toSeq
      pairs.sortBy(p => BucketOrder.indexOf(p._1))
    }
    val sd = row.getAs[org.apache.spark.sql.Row]("size_distribution")
    val sits = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("sits")
      .toList.map { s =>
        SitDef(s.getAs[String]("id"), s.getAs[String]("name"),
          Option(s.getAs[String]("regex")).getOrElse(""),
          Option(s.getAs[scala.collection.Seq[String]]("tc"))
            .map(_.toList).getOrElse(Nil))
      }
    PipelineConfig(
      randomSeed = row.getAs[Long]("random_seed"),
      perSitCount = row.getAs[Long]("per_sit_count").toInt,
      tpRatio = row.getAs[Any]("tp_ratio") match {
        case d: java.lang.Double => d
        case b: java.math.BigDecimal => b.doubleValue()
        case l: java.lang.Long => l.toDouble
      },
      formats = row.getAs[scala.collection.Seq[String]]("formats").toList,
      sizeDistribution = SizeDist(
        sd.getAs[Long]("min_words").toInt, sd.getAs[Long]("max_words").toInt,
        sd.getAs[Long]("main_range_min").toInt, sd.getAs[Long]("main_range_max").toInt,
        sd.getAs[Any]("main_range_share") match {
          case d: java.lang.Double => d
          case b: java.math.BigDecimal => b.doubleValue()
          case l: java.lang.Long => l.toDouble
        }),
      sitCountDistribution = mapOf("sit_count_distribution"),
      instanceCountDistribution = mapOf("instance_count_distribution"),
      sits = sits)
  }

  /** Serialize a config to reference-format JSON (round-trip partner of
    * [[fromJson]]; confidence_rules/output are hardcoded in the reference's
    * modules and therefore not modeled — `SURVEY.md` §1.1). */
  def toJson(cfg: PipelineConfig): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def dist(d: Seq[(String, Double)]) =
      d.map { case (k, v) => s""""${esc(k)}": $v""" }.mkString("{", ", ", "}")
    val sits = cfg.sits.map { s =>
      s"""{"id": "${esc(s.id)}", "name": "${esc(s.name)}", """ +
        s""""regex": "${esc(s.regex)}", "tc": ${s.tc.map(t => s""""${esc(t)}"""").mkString("[", ", ", "]")}}"""
    }.mkString("[", ",\n", "]")
    val sd = cfg.sizeDistribution
    s"""{
       |"random_seed": ${cfg.randomSeed},
       |"per_sit_count": ${cfg.perSitCount},
       |"tp_ratio": ${cfg.tpRatio},
       |"formats": ${cfg.formats.map(f => s""""${esc(f)}"""").mkString("[", ", ", "]")},
       |"size_distribution": {"min_words": ${sd.minWords}, "max_words": ${sd.maxWords},
       |  "main_range_min": ${sd.mainRangeMin}, "main_range_max": ${sd.mainRangeMax},
       |  "main_range_share": ${sd.mainRangeShare}},
       |"sit_count_distribution": ${dist(cfg.sitCountDistribution)},
       |"instance_count_distribution": ${dist(cfg.instanceCountDistribution)},
       |"sits": $sits
       |}""".stripMargin
  }

  /** Defaults mirroring `config.json:1-29` (values are configuration data,
    * re-declared; semantics per `modules/meta_generator.py`). */
  def default: PipelineConfig = PipelineConfig(
    randomSeed = 42L,
    perSitCount = 100,
    tpRatio = 0.5,
    formats = Seq("email", "chat", "document", "pdf", "email_with_attachment"),
    sizeDistribution = SizeDist(300, 4000, 500, 1500, 0.65),
    sitCountDistribution =
      Seq("1" -> 0.30, "2-3" -> 0.30, "4-6" -> 0.30, ">6" -> 0.10),
    instanceCountDistribution =
      Seq("1" -> 0.35, "3-5" -> 0.35, "6-10" -> 0.20, ">10" -> 0.10),
    sits = DefaultSits.all)

  /** Scaled-down copy for tests / the flagship entry query. */
  def scaled(perSit: Int): PipelineConfig = default.copy(perSitCount = perSit)
}

/** The 50 SIT definitions — detection patterns + taxonomy categories
  * (`config.json:30-237`). Patterns are kept verbatim (they are the data
  * contract); flag handling is normalized at compile time by the validator
  * (MULTILINE|CASE_INSENSITIVE, `modules/validator.py:49`). */
object DefaultSits {

  private def s(id: String, name: String, regex: String, tc: String*) =
    SitDef(id, name, regex, tc)

  val all: Seq[SitDef] = Seq(
    s("SIT_CCN", "Credit Card Number",
      """\b(?:(?:4\d{3}|5[1-5]\d{2}|3[47]\d{2}|6(?:011|5\d{2}))(?:[ \-]?\d{4}){3}|3[47]\d{2}[ \-]?\d{6}[ \-]?\d{5})\b""",
      "Finance"),
    s("SIT_SSN", "U.S. Social Security Number (SSN)",
      """\b\d{3}-\d{2}-\d{4}\b|(?i)(ssn[:\s]*)(\d{3}-\d{2}-\d{4})""",
      "HR", "Tax"),
    s("SIT_ITIN", "U.S. Individual Taxpayer Identification Number (ITIN)",
      """\b9\d{2}-\d{2}-\d{4}\b""", "Tax"),
    s("SIT_PASSPORT_US_UK", "U.S./U.K. Passport Number",
      """(?i)(?:passport(?:\s*(?:no|number|#)?)[:\s]*)\b([A-Z0-9]{6,9})\b""",
      "Travel", "HR"),
    s("SIT_BANK_US", "U.S. Bank Account Number",
      """(?i)(?:account(?:\s*(?:no|number)?)[:\s]*)\b\d{6,17}\b|(?<=acct[:\s])\d{6,17}""",
      "Finance"),
    s("SIT_DRIVER_US", "U.S. Driver's License Number",
      """(?i)(?:driver(?:'s)?\s*license(?:\s*(?:no|number|#)?)[:\s]*)\b([A-Z0-9-]{4,15})\b""",
      "HR"),
    s("SIT_ABA", "ABA Routing Number", """\b(?!0{9})\d{9}\b""", "Finance"),
    s("SIT_DEA", "DEA Number", """\b(?!Z{2}\d{7})[A-Z]{2}\d{7}\b""", "Healthcare"),
    s("SIT_EU_DEBIT", "EU Debit Card Number", """\b(?!0{13,19})\d{13,19}\b""", "Finance"),
    s("SIT_ICD10", "ICD-10-CM", """\b[A-TV-Z][0-9]{2}(?:\.[0-9A-TV-Z]{1,4})?\b""", "Healthcare"),
    s("SIT_ICD9", "ICD-9-CM", """\b\d{3}(?:\.\d{1,2})?\b""", "Healthcare"),
    s("SIT_SWIFT", "SWIFT Code", """\b[A-Z]{4}[A-Z]{2}[A-Z0-9]{2}(?:[A-Z0-9]{3})?\b""", "Finance"),
    s("SIT_CAN_SIN", "Canada Social Insurance Number (SIN)",
      """\b(?!0{3}-0{3}-0{3})\d{3}-\d{3}-\d{3}\b""", "HR", "Tax"),
    s("SIT_CAN_BANK", "Canada Bank Account Number", """\b(?!0{7,12})\d{7,12}\b""", "Finance"),
    s("SIT_AUS_TFN", "Australia Tax File Number (TFN)", """\b(?!0{8,9})\d{8,9}\b""", "Tax"),
    s("SIT_CAN_PHIN", "Canada PHIN",
      """(?i)(?:phin[:\s]*)\b\d{9}\b|(?i)(?:health(?:\s*service)?(?:\s*no|number)?[:\s]*)\b\d{7,10}\b""",
      "Healthcare"),
    s("SIT_CAN_DRIVER", "Canada Driver's License Number",
      """\b(?=.*\d)[A-Z0-9]{4,15}\b""", "HR"),
    s("SIT_CAN_HEALTH", "Canada Health Service Number", """\b(?!0{9})\d{9}\b""", "Healthcare"),
    s("SIT_AUS_DRIVER", "Australia Driver's License Number",
      """\b(?=.*\d)[A-Z0-9\-]{4,15}\b""", "HR"),
    s("SIT_AUS_PASSPORT", "Australia Passport Number", """\b[A-Z]\d{7}\b""", "Travel"),
    s("SIT_AUS_BANK", "Australia Bank Account Number", """\b(?!0{6,9})\d{6,9}\b""", "Finance"),
    s("SIT_AZURE_SAS", "Azure SAS Token", """(?:\bsig=)[A-Za-z0-9%_-]{12,}""", "IP"),
    s("SIT_CAN_PASSPORT", "Canada Passport Number",
      """\b(?=(?:.*\d){1,})[A-Z0-9]{6,9}\b""", "Travel"),
    s("SIT_AUS_MEDACC", "Australia Medical Account Number",
      """\b(?!0{6,12})\d{6,12}\b""", "Healthcare"),
    s("SIT_IBAN", "International Bank Account Number (IBAN)",
      """\b[A-Z]{2}[0-9]{2}[A-Z0-9]{8,30}\b""", "Finance"),
    s("SIT_BR_CPF", "Brazil CPF Number", """\b\d{3}\.\d{3}\.\d{3}-\d{2}\b""", "HR", "Tax"),
    s("SIT_BR_RG", "Brazil National ID Card (RG)",
      """\b\d{2}\.\d{3}\.\d{3}-\d{1}\b""", "HR"),
    s("SIT_UK_NINO", "U.K. National Insurance Number (NINO)",
      """\b(?!BG|GB|NK|KN|TN|NT|ZZ)[A-CEGHJ-PR-TW-Z]{2}\d{6}[A-D]\b""", "HR", "Tax"),
    s("SIT_FR_INSEE", "France INSEE", """\b\d{13}\b""", "HR", "Healthcare"),
    s("SIT_IP", "IP Address",
      """\b(?:(?:25[0-5]|2[0-4]\d|[01]?\d?\d)\.){3}(?:25[0-5]|2[0-4]\d|[01]?\d?\d)\b""", "IP"),
    // --- 20 TC-only SITs (regex-less), config.json:217-236 ---
    s("SIT_HEALTHCARE_TC", "Healthcare TC", "", "Healthcare"),
    s("SIT_HEALTH_FORMS", "Health/Medical forms TC", "", "Healthcare"),
    s("SIT_TAX_TC", "Tax TC", "", "Tax"),
    s("SIT_HR_TC", "HR TC", "", "HR"),
    s("SIT_INVOICE_TC", "Invoice TC", "", "Finance"),
    s("SIT_EMP_INSURANCE_TC", "Employee Insurance Files TC", "", "HR", "Finance"),
    s("SIT_LEGAL_TC", "Legal Affairs TC", "", "Legal"),
    s("SIT_AGREEMENTS_TC", "Agreements TC", "", "Legal", "Finance"),
    s("SIT_DISCIPLINARY_TC", "Employee disciplinary action files TC", "", "HR"),
    s("SIT_FINANCE_TC", "Finance TC", "", "Finance"),
    s("SIT_SOURCE_CODE_TC", "Source Code TC", "", "IP"),
    s("SIT_BUDGET_TC", "Budget TC", "", "Finance"),
    s("SIT_IP_TC", "IP TC (intellectual property)", "", "IP"),
    s("SIT_MA_TC", "M and A Files TC", "", "Legal", "Finance"),
    s("SIT_SOFTWARE_DEV_TC", "Software Product Development Files TC", "", "IP", "Software"),
    s("SIT_PROJECT_DOCS_TC", "Project Documents TC", "", "Project"),
    s("SIT_BANK_STATEMENT_TC", "Bank Statement TC", "", "Finance"),
    s("SIT_LOAN_AGREEMENTS_TC", "Loan Agreements and offer letters TC", "", "Finance", "HR"),
    s("SIT_WIRE_TRANSFER_TC", "Wire transfer TC", "", "Finance"),
    s("SIT_SOW_TC", "Statement of Work TC", "", "Project"))
}
