package graft.ext

/** Deterministic language-id corpus: the word pools [[LangId.PinnedW]]
  * was trained on (`tools/LangIdTrain`), the q152/q166 query
  * corpora and LangIdSpec's retrain all draw from. Pools are
  * function-word anchored per language; doc words are picked by LCG
  * arithmetic on a seed, so a SQL oracle can replay them.
  */
object LangIdFixtures {

  val Pools: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "people", "first", "water", "time",
      "word", "small", "great", "house"),
    "de" -> Seq("der", "und", "die", "mit", "nicht", "haus", "wasser", "zeit",
      "wort", "klein", "gross", "leute"),
    "fr" -> Seq("les", "des", "est", "une", "gens", "premier", "eau", "temps",
      "mot", "petit", "grande", "maison"),
    "es" -> Seq("los", "las", "para", "como", "gente", "primero", "agua",
      "tiempo", "palabra", "casa", "grande", "tierra"),
    // round 13 (VERDICT r12 item 3): the scripts the charset
    // subsystem already decodes — Cyrillic, Arabic, CJK
    "ru" -> Seq("и", "не", "на", "что", "вода", "время", "слово", "дом",
      "люди", "первый", "маленький", "большой"),
    "ar" -> Seq("في", "من", "على", "أن", "ماء", "وقت", "كلمة", "بيت",
      "ناس", "أول", "صغير", "كبير"),
    "zh" -> Seq("的", "是", "了", "在", "水", "时间", "词", "房子",
      "人们", "第一", "小", "大"),
    "ja" -> Seq("の", "に", "です", "ます", "みず", "じかん", "ことば",
      "いえ", "ひと", "はじめ", "ちいさい", "おおきい"),
    "ko" -> Seq("의", "는", "이다", "에서", "물", "시간", "단어", "집",
      "사람", "첫째", "작은", "큰"))

  /** Out-of-set pool for the NONE-floor calibration: Finnish-shaped
    * words none of [[LangId.Ngrams]] matches (asserted by LangIdSpec),
    * so every head must score them below the floor.
    */
  val NonePool: Seq[String] = Seq("talo", "vesi", "aika", "sana", "kirja",
    "kala", "lintu", "metsa", "joki", "kivi", "lumi", "tuli")

  /** deterministic doc: 14 words from the language pool */
  def doc(lang: String, seed: Long): String = {
    val pool = Pools(lang)
    (0 until 14).map(k => pool(((seed * 31 + k * 7 + seed / 13) % pool.size).toInt.abs))
      .mkString(" ")
  }
}
