package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Hashing, HtmlExtract}
import graft.model.Mention
import graft.operators.{Blocking, PageProcessing}
import graft.sources.WebPagesGen

/** Seeded property sweeps (SURVEY §5 item 3). Deterministic generators via
  * counter-based hashing — reproducible without a ScalaCheck shrink cycle. */
class PropertySpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def randomMentions(trial: Int): Vector[Mention] = {
    val n = 5 + Hashing.uniformInt(40, 1L, trial)
    (0 until n).map { i =>
      val off = Hashing.uniformInt(300, 2L, trial, i)
      val len = 1 + Hashing.uniformInt(12, 3L, trial, i)
      Mention(s"e${i % 7}", "x" * len, None, off, "P", s"e${i % 7}")
    }.toVector
  }

  test("overlap suppression always yields a pairwise non-overlapping set") {
    for (trial <- 0 until 50) {
      val contexts = new PageProcessing.Contexts
      randomMentions(trial).foreach { m =>
        contexts.update(m.entity, contexts.getOrElse(m.entity, Vector.empty) :+ m)
      }
      val kept = PageProcessing.dropOverlappingMentions(contexts)
        .valuesIterator.flatten.toVector
      for (a <- kept; b <- kept if a != b) {
        assert(!PageProcessing.mentionOverlaps(Seq(a), b),
          s"trial $trial: $a overlaps $b")
      }
      // greedy keeps at least the first mention
      assert(kept.nonEmpty)
    }
  }

  test("fused ASCII token-hash path == reference composition (fold/tokenize/hash)") {
    val alphabets = Seq(
      "abcdefghij XYZ 0123456789 .,;!? \t\n", // pure ASCII incl. upper + punct
      "àéöüí ñ ç ß æ œ abc 42", // fold-range diacritics (slow path)
      "mixed ASCII täil 007 end-case") // mixed
    for (trial <- 0 until 200) {
      val alpha = alphabets(trial % alphabets.length)
      val len = Hashing.uniformInt(80, 7L, trial)
      val s = (0 until len)
        .map(i => alpha.charAt(Hashing.uniformInt(alpha.length, 8L, trial, i)))
        .mkString
      assert(Blocking.tokenHashesOf(s).toSeq == Blocking.tokenHashesSlow(s).toSeq,
        s"trial $trial drift on '$s'")
    }
    assert(Blocking.tokenHashesOf("").isEmpty)
    assert(Blocking.tokenHashesOf(null).isEmpty)
  }

  test("LongCountMap == java HashMap under random add storms (incl. 0 and MinValue keys)") {
    for (trial <- 0 until 20) {
      val m = new graft.functions.LongCountMap(16)
      val ref = new java.util.HashMap[Long, Long]()
      val n = 200 + Hashing.uniformInt(3000, 21L, trial)
      for (i <- 0 until n) {
        val key = Hashing.uniformInt(64, 22L, trial, i) match {
          case 0 => 0L
          case 1 => Long.MinValue
          case k => Hashing.hash64(23L, trial, k.toLong)
        }
        val delta = 1L + Hashing.uniformInt(5, 24L, trial, i)
        m.add(key, delta)
        ref.merge(key, delta, _ + _)
      }
      import scala.jdk.CollectionConverters._
      assert(m.iterator.toMap == ref.asScala.toMap, s"trial $trial")
    }
  }

  test("sharedKeyPairs == in-memory brute force over random blocks at maxBlock = 3") {
    import spark.implicits._
    // 300 keys, each held by 1 to 4 distinct ids out of 40, so blocks on
    // both sides of the cap occur and many pairs share several keys
    val entries = (0 until 300).flatMap { k =>
      val size = 1 + Hashing.uniformInt(4, 31L, k)
      (0 until 40).sortBy(i => Hashing.hash64(32L, k, i)).take(size)
        .map(id => Blocking.BlockEntry(k.toLong, id.toLong))
    }
    val got = Blocking.sharedKeyPairs(spark, spark.createDataset(entries).repartition(4), 3)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val want = entries.groupBy(_.key).values.map(_.map(_.id).sorted)
      .filter(ids => ids.length >= 2 && ids.length <= 3)
      .flatMap(ids => ids.combinations(2).map(p => (p(0), p(1))))
      .groupMapReduce(identity)(_ => 1L)(_ + _)
      .map { case ((a, b), n) => (a, b, n) }.toSeq.sorted
    assert(got == want)
    val sizes = entries.groupBy(_.key).values.map(_.length).toSet
    assert(sizes == Set(1, 2, 3, 4), s"block sizes $sizes miss a side of the cap")
    assert(want.exists(_._3 >= 2), "no pair shares two keys")
  }

  test("every cluster variant shares >=1 blocking key with its base (blocking recall)") {
    for (c <- 0L until 150L) {
      val docs = (0 until WebPagesGen.clusterSize(c)).map { v =>
        val p = WebPagesGen.genPage(c, v).page
        val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
        Blocking.ExtractedDoc(
          Blocking.docId(p.url), p.url,
          HtmlExtract.extractTitle(html), p.text, p.lang)
      }
      if (docs.length > 1) {
        def keys(d: Blocking.ExtractedDoc): Set[Long] = {
          val norm = graft.functions.TextFunctions.cleanEntity(d.title)
          val titleKey =
            if (norm.nonEmpty) Set(Hashing.hashString("title:" + norm)) else Set.empty[Long]
          titleKey // the guaranteed-shared family (LSH bands add recall)
        }
        val base = keys(docs.head)
        docs.tail.foreach { d =>
          assert(keys(d).intersect(base).nonEmpty, s"cluster $c variant ${d.url}")
        }
      }
    }
  }

  test("extraction is a pure function (100 random pages, double-extracted)") {
    for (trial <- 0 until 100) {
      val c = Hashing.uniformInt(5000, 7L, trial).toLong
      val v = Hashing.uniformInt(3, 8L, trial)
      if (v < WebPagesGen.clusterSize(c)) {
        val p1 = WebPagesGen.genPage(c, v).page
        val p2 = WebPagesGen.genPage(c, v).page
        assert(p1.url == p2.url)
        assert(java.util.Arrays.equals(p1.html, p2.html))
        assert(HtmlExtract.extractText(p1.html) == HtmlExtract.extractText(p2.html))
        assert(p1.text == HtmlExtract.extractText(p1.html))
      }
    }
  }

  test("matchAll offsets are valid, ordered, non-overlapping") {
    import graft.functions.TextFunctions.matchAll
    for (trial <- 0 until 80) {
      val alphabet = "abc"
      val len = 5 + Hashing.uniformInt(60, 20L, trial)
      val s = (0 until len)
        .map(i => alphabet(Hashing.uniformInt(3, 21L, trial, i))).mkString
      val patLen = 1 + Hashing.uniformInt(3, 22L, trial)
      val pat = (0 until patLen)
        .map(i => alphabet(Hashing.uniformInt(3, 23L, trial, i))).mkString
      val offs = matchAll(pat, s)
      assert(offs == offs.sorted)
      offs.foreach(o => assert(s.regionMatches(o, pat, 0, pat.length)))
      offs.sliding(2).foreach {
        case Seq(a, b) => assert(b >= a + pat.length) // non-overlapping
        case _ =>
      }
    }
  }

  test("asciiFold is total ASCII over every Hangul syllable + covered tables") {
    import graft.functions.TextFunctions.{asciiFold, foldResidue}
    // the ENTIRE 11,172-syllable Hangul block folds to non-empty ASCII
    var c = 0xac00
    while (c <= 0xd7a3) {
      val folded = asciiFold(c.toChar.toString)
      assert(folded.nonEmpty && folded.forall(_ < 128), s"U+${c.toHexString}")
      c += 1
    }
    // Greek/Cyrillic/Arabic/Hebrew letter ranges leave zero residue
    // (classical Arabic letters; 0x63b-0x640 are later extensions, uncovered)
    for (r <- Seq(0x0391 to 0x03c9, 0x0410 to 0x044f, 0x0621 to 0x063a, 0x0641 to 0x064a, 0x05d0 to 0x05ea);
         cp <- r if Character.isLetter(cp))
      assert(foldResidue(cp.toChar.toString) == 0, s"U+${cp.toHexString}")
    // BOTH kana blocks fold letterwise to ASCII, including the voiced
    // rows that NFD decomposes into base + combining voicing mark
    for (r <- Seq(0x3041 to 0x3096, 0x30a1 to 0x30f6); cp <- r) {
      val folded = asciiFold(cp.toChar.toString)
      assert(folded.nonEmpty && folded.forall(_ < 128), s"kana U+${cp.toHexString}")
    }
  }

  test("CJK fold coverage is bounded and its residue counter is exact") {
    import graft.functions.TextFunctions.{asciiFold, foldResidue}
    // the frequent-ideograph table folds to "Pinyin " (ASCII letters + one
    // trailing space), zero residue
    val covered = "的一是不了人中国國大来來上京东東北南海山水王市"
    covered.foreach { c =>
      val f = asciiFold(c.toString)
      assert(f.length >= 2 && f.last == ' ' && f.forall(_ < 128), s"U+${c.toInt.toHexString}")
      assert(foldResidue(c.toString) == 0)
    }
    // OUTSIDE the bounded table the passthrough must stay VISIBLE: the
    // residue counter equals exactly the number of uncovered ideographs —
    // a regression here (counter diluted or table silently shrunk) fails
    val rare = "麤鱻龘齉" // low-frequency ideographs, deliberately uncovered
    assert(foldResidue(rare) == rare.length)
    assert(foldResidue(covered + rare) == rare.length)
    // mixed CJK/Latin text: only the uncovered ideographs count
    assert(foldResidue(s"Tokyo 東京 $rare tower") == rare.length)
  }

  test("CJK fold residue rate on a Zipf-weighted frequent-ideograph corpus") {
    import graft.functions.TextFunctions.foldResidue
    // VERDICT r04 #6: make the bounded pinyin table's coverage a NUMBER.
    // Synthetic CJK-heavy corpus: frequent modern-Chinese characters in
    // approximate corpus-frequency rank order (public frequency orderings
    // of modern Chinese text, e.g. Jun Da's MTSU character-frequency
    // list; order beyond the top ~200 barely moves a Zipf-weighted sum),
    // weighted Zipf(1): the rank-r character appears max(1, 2000/r)
    // times. Deterministic — no RNG. The measured residue fraction is
    // published in BASELINE.md ("CJK fold residue"); this assertion pins
    // it so the doc number and the table cannot drift apart silently.
    val ranked =
      ("的一是不了在人有我他这个们中来上大为和国地到以说时要就出会可也你对生能而子那得于着下自" +
       "之年过发后作里用道行所然家种事成方多经么去法学如都同现当没动面起看定天分还进好小部其些" +
       "主样理心她本前开但因只从想实日军者意无力它与长把机十民第公此已工使情明性知全三又关点正" +
       "业外将两高间由问很最重并物手应战向头文体政美相见被利什二等产或新己制身果加西斯月话合回" +
       "特代内信表化老给世位次度门任常先海通教儿原东声提立及比员解水名真论处走义各入几口认条平" +
       "系气题活尔更别打女变四神总何电数安少报才结反受目太量再感建务做接必场件计管期市直德资命" +
       "山金指克许统区保至队形社便空决治展马科司五基眼书非则听白却界达光放强即像难且权思王象完" +
       "设式色路记南品住告类求据程北边死张该交规万取拉格望觉术领共确传师观清今切院让识候带导争" +
       "运笑飞风步改收根干造言联持组每济车亲极林服快办议往元英士证近失转夫令准布始怎呢存未远叫" +
       "台单影具罗字爱击流备兵连调深商算质团集百需价花党华城石级整府离况亚请技际约示复病息究线" +
       "似官火断精满支视消越器容照须九增研写称企八功吗包片史委乎查轻易早曾除农找装广显吧阿李标" +
       "谈吃图念六引历首医局突专费号尽另周较注语仅考落青随选列武红响虽推势参希古众构房半节土投" +
       "某案黑维革划敌致陈律足态护七兴派孩验责营星够章音跟志底站严巴例防族供效续施留讲型料终答" +
       "紧黄绝奇察母京段依批群项故按河米围江织害斗双境客纪采举杀攻父苏密低朝友诉止细愿千值仍男" +
       "钱破网热助倒育属坐帝限船脸职速刻乐否刚威毛状率甚独球般普怕弹校苦创假久错承印晚兰试股拿" +
       "脑预谁益阳若哪微尼继送急血惊伤素药适波夜省初喜卫源食险待述陆习置居劳财环排福纳欢雷警获" +
       "模充负云停木游龙树疑层冷洲冲射略范竟句室异激汉村哈策演简卡罪判担州静退既衣您宗积余痛检" +
       "差富灵协角占配征修皮挥胜降阶审沉坚善妈刘读啊超免压银买皇养伊怀执副乱抗犯追帮宣佛岁航优" +
       "怪香著田铁控税左右份穿艺背阵草脚概恶块顿敢守酒岛托央户烈洋哥索胡款靠评版宝座释景顾弟登" +
       "货互付伯慢欧换闻危忙核暗姐介坏讨丽良序升监临亮露永呼味野架域沙掉括舰鱼杂误湾吉减编楚肯" +
       "测败屋跑梦散温困剑渐封救贵枪缺楼县尚毫移娘朋画班智亦耳恩短掌恐遗固席松秘谢鲁遇康虑幸均" +
       "销钟诗藏赶剧票损忽巨炮旧端探湖录叶春乡附吸予礼港雨呀板庭妇归睛饭额含顺输摇招婚脱补谓督" +
       "毒油疗旅泽材灭逐莫笔亡鲜词圣择寻厂睡博勒烟授诺伦岸奥唐卖俄炸载洛健堂旁宫喝借君禁阴园谋" +
       "宋避抓荣姑孙逃牙束跳顶玉镇雪午练迫爷篇肉嘴馆遍凡础洞卷坦牛宁纸诸训私庄祖丝翻暴森塔默握" +
       "戏隐熟骨访弱蒙歌店鬼软典欲萨伙遭盘爸扩盖弄雄稳忘亿刺拥徒姆杨齐赛趣曲刀床迎冰虚玩析窗醒" +
       "妻透购替塞努休虎扬途侍弃").distinct
    val corpus = new StringBuilder
    ranked.zipWithIndex.foreach { case (c, i) =>
      val reps = math.max(1L, math.round(2000.0 / (i + 1))).toInt
      var k = 0
      while (k < reps) { corpus.append(c); k += 1 }
    }
    val total = corpus.length
    val residue = foldResidue(corpus.toString)
    val frac = residue.toDouble / total
    info(f"CJK fold residue: $residue of $total Zipf-weighted chars = $frac%.3f " +
      f"(vocab ${ranked.length} ranked ideographs)")
    // the number BASELINE.md quotes; tighten/loosen ONLY together with it
    // (measured 0.279 with the r4 ~190-codepoint table; 0.129 after the
    // round-5 top-~400-rank widening to ~540 codepoints)
    assert(frac <= 0.15, f"CJK fold residue $frac%.3f exceeded the documented bound")
  }
}
