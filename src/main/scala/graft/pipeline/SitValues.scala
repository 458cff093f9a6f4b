package graft.pipeline

import graft.expr.{Checksums, DetHash}

/** Stage-2 scalar value generators — SURVEY.md §2.3 V1–V15.
  *
  * Semantics per `modules/content_generator.py:27-175`: each SIT has a TP
  * branch producing a realistic value (checksummed where the real-world type
  * is) and an FP branch returning a fixed placeholder literal that the
  * validator's heuristic (P5) must catch. Draws are keyed on `(docId, slot)`
  * via SplitMix64, so generation is deterministic, partition-independent and
  * retry-safe (the reference relies on a single seeded global RNG stream,
  * `content_generator.py:259-262`, which no parallel engine can reproduce).
  *
  * Two deliberate non-inheritances of reference defects (SURVEY.md §5):
  *   - ICD-10 TP emits a real `[A-TV-Z]\d\d` code (the reference's
  *     `lexify('A##')` leaves `#` unexpanded — `content_generator.py:153`);
  *   - Azure SAS TP emits a real-shaped 16-char sig (the reference's literal
  *     `sig=FAKE_SIG` fails its own placeholder heuristic —
  *     `content_generator.py:165` vs `validator.py:164-165`).
  */
object SitValues {

  private val Upper = ('A' to 'Z').mkString
  private val NinoAllowed = ('A' to 'Z').filterNot("DFIQUV".contains(_)).mkString
  private val Base62 =
    ('A' to 'Z').mkString + ('a' to 'z').mkString + ('0' to '9').mkString

  private def digits(key: Long, slot: Long, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('0' + DetHash.nextInt(key, slot + i, 10)).toChar); i += 1 }
    sb.toString
  }
  private def letters(key: Long, slot: Long, n: Int, alpha: String = Upper): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(alpha(DetHash.nextInt(key, slot + i, alpha.length))); i += 1 }
    sb.toString
  }
  private def rint(key: Long, slot: Long, lo: Int, hi: Int): Int =
    DetHash.uniformInt(key, slot, lo, hi)

  /** V2: 16-digit CCN, Visa/MC prefix, Luhn check digit, 4-4-4-4 spacing. */
  def ccn(key: Long, slot: Long): String = {
    val prefix =
      if (DetHash.nextInt(key, slot, 2) == 0) "4"
      else "5" + (1 + DetHash.nextInt(key, slot + 1, 5))
    val body = prefix + digits(key, slot + 10, 15 - prefix.length)
    val full = body + Checksums.luhnCheckDigit(body)
    full.grouped(4).mkString(" ")
  }

  /** V4: GB IBAN with mod-97 check digits over a 16-digit BBAN. */
  def iban(key: Long, slot: Long): String = {
    val bban = digits(key, slot, 16)
    s"GB${Checksums.ibanCheckDigits("GB", bban)}$bban"
  }

  def ssn(key: Long, slot: Long): String =
    f"${rint(key, slot, 100, 899)}%03d-${rint(key, slot + 1, 10, 99)}%02d-${rint(key, slot + 2, 1000, 9999)}%04d"

  def ipv4(key: Long, slot: Long): String =
    (0 to 3).map(i => rint(key, slot + i, 1, 254)).mkString(".")

  /** TP value for `sitId`; `slot` namespaces multiple instances in one doc. */
  def tpValue(sitId: String, sitName: String, key: Long, slot: Long): String = {
    val s = slot * 64 // leave room for per-digit sub-slots
    sitId match {
      case "SIT_CCN"      => ccn(key, s)
      // EU debit regex (config.json:86) wants contiguous digits — the
      // reference's spaced CCN reuse can never match it (defect not inherited)
      case "SIT_EU_DEBIT"  => ccn(key, s).replace(" ", "")
      case "SIT_SSN" | "SIT_ITIN"     => ssn(key, s)
      case "SIT_PASSPORT_US_UK" | "SIT_CAN_PASSPORT" =>
        letters(key, s, 1) + digits(key, s + 1, 7)
      case "SIT_BANK_US"   => digits(key, s + 1, rint(key, s, 6, 17))
      case "SIT_DRIVER_US" => letters(key, s, 1) + digits(key, s + 1, 6) + letters(key, s + 7, 1)
      case "SIT_ABA"       => digits(key, s, 9)
      case "SIT_DEA"       => letters(key, s, 2) + digits(key, s + 2, 7)
      case "SIT_ICD10"     => letters(key, s, 1, "ABCDEFGHIJKLMNOPQRSTVWXYZ") + digits(key, s + 1, 2)
      case "SIT_ICD9"      => s"${rint(key, s, 100, 999)}.${rint(key, s + 1, 0, 99)}"
      case "SIT_SWIFT"     => letters(key, s, 8)
      case "SIT_CAN_SIN"   => f"${rint(key, s, 100, 999)}-${rint(key, s + 1, 100, 999)}-${rint(key, s + 2, 100, 999)}"
      case "SIT_CAN_BANK"  => digits(key, s + 1, rint(key, s, 7, 12))
      case "SIT_AUS_TFN"   => digits(key, s, 8)
      case "SIT_CAN_PHIN" | "SIT_CAN_HEALTH" => digits(key, s, 9)
      case "SIT_CAN_DRIVER" => letters(key, s, 2) + digits(key, s + 2, 6)
      case "SIT_AUS_DRIVER" => letters(key, s, 2) + "-" + digits(key, s + 2, 6)
      case "SIT_AUS_PASSPORT" => letters(key, s, 1) + digits(key, s + 1, 7)
      case "SIT_AUS_BANK"  => digits(key, s + 1, rint(key, s, 6, 9))
      case "SIT_AZURE_SAS" => "sig=" + letters(key, s, 16, Base62)
      case "SIT_IBAN"      => iban(key, s)
      case "SIT_BR_CPF" =>
        s"${digits(key, s, 3)}.${digits(key, s + 3, 3)}.${digits(key, s + 6, 3)}-${digits(key, s + 9, 2)}"
      case "SIT_BR_RG" =>
        s"${digits(key, s, 2)}.${digits(key, s + 2, 3)}.${digits(key, s + 5, 3)}-${digits(key, s + 8, 1)}"
      case "SIT_UK_NINO" =>
        // regex (config.json:202) also bans specific prefixes the reference's
        // per-letter filter misses (content_generator.py:116) — resample
        // deterministically until the pair is allowed
        val banned = Set("BG", "GB", "NK", "KN", "TN", "NT", "ZZ")
        var bump = 0L
        var pair = letters(key, s, 2, NinoAllowed)
        while (banned(pair)) { bump += 16; pair = letters(key, s + bump, 2, NinoAllowed) }
        pair + digits(key, s + 2, 6) + letters(key, s + 8, 1, "ABCD")
      case "SIT_FR_INSEE" => digits(key, s, 13)
      case "SIT_IP"       => ipv4(key, s)
      case _ => s"<${sitName.replace(' ', '_').toUpperCase}_VALUE>" // V13 generic
    }
  }

  /** FP placeholder literal per SIT (`content_generator.py:40-172` FP arms). */
  def fpValue(sitId: String, sitName: String): String = sitId match {
    case "SIT_CCN" | "SIT_EU_DEBIT"     => "0000 0000 0000 0000"
    case "SIT_SSN" | "SIT_ITIN"         => "XXX-XX-XXXX"
    case "SIT_PASSPORT_US_UK" | "SIT_CAN_PASSPORT" => "XXXXXXXX"
    case "SIT_BANK_US" | "SIT_CAN_BANK" | "SIT_AUS_BANK" | "SIT_AUS_MEDACC" => "0000000"
    case "SIT_DRIVER_US"   => "XXXXXXX"
    case "SIT_ABA" | "SIT_CAN_PHIN" | "SIT_CAN_HEALTH" => "000000000"
    case "SIT_DEA"         => "ZZ0000000"
    case "SIT_ICD10"       => "X00"
    case "SIT_ICD9"        => "000"
    case "SIT_SWIFT" | "SIT_CAN_DRIVER" => "XXXXXX"
    case "SIT_CAN_SIN"     => "000-000-000"
    case "SIT_AUS_TFN"     => "00000000"
    case "SIT_AUS_DRIVER"  => "XXXX-000000"
    case "SIT_AUS_PASSPORT" => "A0000000"
    case "SIT_AZURE_SAS"   => "sig=XXXXX"
    case "SIT_IBAN"        => "XX00 XXXX XXXX XXXX XXXX"
    case "SIT_BR_CPF"      => "000.000.000-00"
    case "SIT_BR_RG"       => "00.000.000-0"
    case "SIT_UK_NINO"     => "QQ000000C"
    case "SIT_FR_INSEE"    => "0000000000000"
    case "SIT_IP"          => "999.999.999.999"
    case _                 => s"REDACTED_$sitId"
  }

  /** Dispatch (V15): TP → generator, FP → placeholder. SITs handled by
    * `SIT_AUS_MEDACC` reuse the bank-account generator (6–12 digits),
    * matching `content_generator.py:167`. */
  def value(sitId: String, sitName: String, label: String, key: Long, slot: Long): String =
    if (label == "TP") sitId match {
      case "SIT_AUS_MEDACC" => digits(key, slot * 64 + 1, rint(key, slot * 64, 6, 12))
      case _                => tpValue(sitId, sitName, key, slot)
    }
    else fpValue(sitId, sitName)
}
