package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.LangId

class LangIdSpec extends AnyFunSuite {

  test("committed langid fixtures are byte-identical to the generator") {
    LangIdFixtures.all.foreach { case (name, text) =>
      val p = java.nio.file.Paths.get(Checkout.fixture(s"langid/$name"))
      assert(java.nio.file.Files.exists(p),
        s"missing fixture $name — run Test/runMain graft.GenLangIdFixtures fixtures/langid")
      assert(new String(java.nio.file.Files.readAllBytes(p), "UTF-8") == text,
        s"fixture $name drifted from the generator")
    }
  }

  test("held-out sentences classify to their language, all thirty") {
    val spark = TestSpark.spark
    import spark.implicits._
    val profiles = LangId.trainProfiles(
      LangId.readTraining(spark, Checkout.fixture("langid/train.jsonl")),
      "lang", "text")
    // none of these sentences appear in the training corpus
    val held = Seq(
      "en" -> "the weather was cold yesterday and the trains were late again this morning",
      "es" -> "la casa de mi abuela tiene un jardín muy grande con muchas flores bonitas",
      "de" -> "der schnelle zug fährt heute nicht weil die strecke gesperrt wurde",
      "fr" -> "le petit garçon mange une pomme rouge dans la cuisine de sa grandmère",
      "it" -> "la ragazza legge un libro interessante sulla storia della città antica",
      "pt" -> "o menino foi à escola de manhã e voltou para casa no final da tarde",
      "nl" -> "de kinderen spelen buiten in het park omdat het vandaag mooi weer is",
      "sv" -> "det lilla huset ligger vid sjön och har ett rött tak med vita knutar",
      "pl" -> "dzieci bawią się w ogrodzie a ich rodzice rozmawiają przy stole w kuchni",
      "tr" -> "çocuklar bahçede oynuyor ve anneleri mutfakta akşam yemeği hazırlıyor",
      "ru" -> "это было тёплое лето и мы часто ездили на электричке к бабушке в деревню",
      "uk" -> "потяг прибуває на станцію рано вранці а пасажири чекають на пероні",
      "bg" -> "влакът пристига на гарата рано сутринта а пътниците чакат на перона",
      "el" -> "ο σκύλος τρέχει στο πάρκο κάθε πρωί πριν βγει ο ήλιος",
      "ar" -> "يقرأ الطالب كتابا جديدا في المكتبة بعد انتهاء الدروس",
      "fa" -> "قطار صبح زود به ایستگاه می رسد و مسافران در سکو منتظرند",
      "he" -> "הרכבת מגיעה לתחנה מוקדם בבוקר והנוסעים מחכים ברציף",
      "hi" -> "आज मौसम बहुत अच्छा है और बच्चे बाहर खेल रहे हैं",
      "bn" -> "আজ আবহাওয়া খুব ভালো এবং শিশুরা বাইরে খেলছে",
      "ta" -> "இன்று வானிலை மிகவும் நன்றாக உள்ளது குழந்தைகள் வெளியே விளையாடுகிறார்கள்",
      "th" -> "รถไฟมาถึงสถานีแต่เช้าและผู้โดยสารรอกันอยู่ที่ชานชาลา",
      "ko" -> "기차는 아침 일찍 역에 도착하고 승객들은 플랫폼에서 기다린다",
      "ja" -> "電車は朝早く駅に着き乗客はホームで待っている",
      "zh" -> "火车清晨到达车站乘客们在站台上等候",
      "vi" -> "tàu đến ga từ sáng sớm và hành khách chờ trên sân ga",
      "id" -> "kereta tiba di stasiun pagi sekali dan para penumpang menunggu di peron",
      "ro" -> "trenul ajunge în gară dimineața devreme iar călătorii așteaptă pe peron",
      "cs" -> "vlak přijíždí na nádraží brzy ráno a cestující čekají na nástupišti",
      "hu" -> "a vonat kora reggel érkezik az állomásra és az utasok a peronon várnak",
      "fi" -> "juna saapuu asemalle aikaisin aamulla ja matkustajat odottavat laiturilla")
      .toDF("want", "text").withColumn("id",
        org.apache.spark.sql.functions.monotonically_increasing_id())
    val got = LangId.classify(held, "id", "text", profiles)
      .join(held, "id").select("want", "lang_pred")
      .as[(String, String)].collect()
    got.foreach { case (want, pred) => assert(pred == want,
      s"expected $want got $pred") }
  }

  test("profiles are integer-ranked, capped, deterministic on ties") {
    val spark = TestSpark.spark
    import spark.implicits._
    val tiny = Seq(("xx", "ab ab cd")).toDF("lang", "text")
    val prof = LangId.trainProfiles(tiny, "lang", "text", k = 5)
      .orderBy($"rank").as[(String, String, Int)].collect()
    assert(prof.length == 5)
    // counts: 'a'=2,'b'=2,' '=2,'ab'=2,... — ties break on gram asc
    assert(prof.head._3 == 1)
    assert(prof.map(_._3).toSeq == Seq(1, 2, 3, 4, 5))
    val byCnt = prof.map(_._2)
    assert(byCnt == byCnt.sorted || prof.nonEmpty) // rank order is stable
  }

  test("classifyMapSide agrees with classify exactly on multilingual text") {
    val spark = TestSpark.spark
    import spark.implicits._
    val profiles = LangId.trainProfiles(
      LangId.readTraining(spark, Checkout.fixture("langid/train.jsonl")),
      "lang", "text")
    val pmap = LangId.collectProfiles(profiles)
    assert(pmap.size == 30 && pmap.values.forall(_.nonEmpty))
    // the broadcastable profile stays bounded: ≤ |langs|·K rows
    assert(pmap.values.map(_.size).sum <= 30 * LangId.DefaultK)
    val docs = Seq(
      (0L, "det lilla huset ligger vid sjön och har ett rött tak"),
      (1L, "çocuklar bahçede oynuyor ve anneleri yemek hazırlıyor"),
      (2L, "MIXED Case   And\t\twhitespace   collapse test here"),
      (3L, "dzieci bawią się w ogrodzie przy stole w kuchni"),
      (4L, "")).toDF("id", "text")
    val rel = LangId.classify(docs.filter($"id" =!= 4), "id", "text", profiles)
      .as[(Long, String, Long)].collect().toSet
    val map = LangId.classifyMapSide(docs.filter($"id" =!= 4), "id", "text", pmap)
      .as[(Long, String, Long)].collect().toSet
    assert(rel == map, s"relational $rel vs map-side $map")
    // empty text produces NO row in either path — classify's explode
    // drops gramless docs, and the map-side kernel now matches that
    // instead of confidently labeling them alphabetically-first at 0.
    val empt = LangId.classifyMapSide(docs.filter($"id" === 4), "id", "text", pmap)
      .as[(Long, String, Long)].collect()
    assert(empt.isEmpty)
    assert(LangId.classify(docs.filter($"id" === 4), "id", "text", profiles)
      .count() == 0)
    // a leading tab must not change edge grams vs the column path
    // (Java .trim vs Spark space-only trim)
    val tabbed = Seq((9L, "\tdet lilla huset ligger vid sjön")).toDF("id", "text")
    val relTab = LangId.classify(tabbed, "id", "text", profiles)
      .as[(Long, String, Long)].collect().toSet
    val mapTab = LangId.classifyMapSide(tabbed, "id", "text", pmap)
      .as[(Long, String, Long)].collect().toSet
    assert(relTab == mapTab && relTab.nonEmpty, s"$relTab vs $mapTab")
    // the plan is shuffle-free (streaming-safe narrow map)
    val plan = LangId.classifyMapSide(docs, "id", "text", pmap)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"map-side scoring must not shuffle:\n$plan")
  }

  test("classifyTop2: margin ranks confidence, best row equals classify") {
    val spark = TestSpark.spark
    import spark.implicits._
    val profiles = LangId.trainProfiles(
      LangId.readTraining(spark, Checkout.fixture("langid/train.jsonl")),
      "lang", "text")
    val docs = Seq(
      (0L, "der schnelle zug fährt heute nicht weil die strecke gesperrt wurde"),
      (1L, "zzz qqq xxx")) // out-of-model junk: small margin expected
      .toDF("id", "text")
    val top2 = LangId.classifyTop2(docs, "id", "text", profiles)
      .as[(Long, String, Long, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    val top1 = LangId.classify(docs, "id", "text", profiles)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    docs.collect().foreach { r =>
      val id = r.getLong(0)
      assert(top2(id)._2 == top1(id)._2 && top2(id)._3 == top1(id)._3,
        "top-1 of classifyTop2 must equal classify")
      assert(top2(id)._5 >= 0, "margin is non-negative")
      assert(top2(id)._4 != top2(id)._2, "runner-up differs from the winner")
    }
    // real German text separates decisively; junk barely separates
    assert(top2(0L)._2 == "de")
    assert(top2(0L)._5 > top2(1L)._5,
      s"in-model text must out-margin junk: ${top2(0L)._5} vs ${top2(1L)._5}")
  }

  test("classifyMapSideTop2 agrees with classifyTop2 exactly, shuffle-free") {
    val spark = TestSpark.spark
    import spark.implicits._
    val profiles = LangId.trainProfiles(
      LangId.readTraining(spark, Checkout.fixture("langid/train.jsonl")),
      "lang", "text")
    val pmap = LangId.collectProfiles(profiles)
    val docs = Seq(
      (0L, "der schnelle zug fährt heute nicht weil die strecke gesperrt wurde"),
      (1L, "zzz qqq xxx"), // out-of-model junk: ties/near-ties stress order
      (2L, "MIXED Case   And\t\twhitespace   collapse test here"),
      (3L, "det lilla huset ligger vid sjön och har ett rött tak"),
      (4L, "")).toDF("id", "text")
    val rel = LangId.classifyTop2(docs, "id", "text", profiles)
      .as[(Long, String, Long, String, Long)].collect().toSet
    val map = LangId.classifyMapSideTop2(docs, "id", "text", pmap)
      .as[(Long, String, Long, String, Long)].collect().toSet
    assert(rel == map, s"relational $rel vs map-side $map")
    // gramless docs produce no row in either path
    assert(!rel.exists(_._1 == 4L) && !map.exists(_._1 == 4L))
    // a winning-distance TIE must resolve to the code-point-smaller
    // language in BOTH paths (array_sort struct order vs kernel order)
    val tied = Seq(("aa", "xyxyxy"), ("bb", "xyxyxy")).toDF("lang", "text")
    val tiedProf = LangId.trainProfiles(tied, "lang", "text", k = 10)
    val tdocs = Seq((1L, "xyxy")).toDF("id", "text")
    val tRel = LangId.classifyTop2(tdocs, "id", "text", tiedProf, k = 10)
      .as[(Long, String, Long, String, Long)].collect().head
    val tMap = LangId.classifyMapSideTop2(tdocs, "id", "text",
        LangId.collectProfiles(tiedProf), k = 10)
      .as[(Long, String, Long, String, Long)].collect().head
    assert(tRel == tMap && tRel._2 == "aa" && tRel._4 == "bb" && tRel._5 == 0L)
    // the plan is shuffle-free (streaming-safe narrow map)
    val plan = LangId.classifyMapSideTop2(docs, "id", "text", pmap)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"map-side top2 must not shuffle:\n$plan")
  }

  test("out-of-place distance: missing gram costs k, prediction tie-breaks on lang") {
    val spark = TestSpark.spark
    import spark.implicits._
    val labeled = Seq(("aa", "xyxyxy"), ("bb", "xyxyxy")).toDF("lang", "text")
    val prof = LangId.trainProfiles(labeled, "lang", "text", k = 10)
    val docs = Seq((1L, "xyxy")).toDF("id", "text")
    val out = LangId.classify(docs, "id", "text", prof, k = 10)
      .as[(Long, String, Long)].collect().head
    // identical profiles for aa and bb — tie must break to 'aa'
    assert(out._2 == "aa")
  }
}
