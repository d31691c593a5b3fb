package graft.core

/** Analysis chain: text → token stream, re-expressing the reference's
  * `Analyzer`/`TokenStream` consumer protocol
  * (`lucene/core/src/java/org/apache/lucene/analysis/Analyzer.java:153`) as a
  * pure `String => IndexedSeq[Token]` usable inside typed Dataset transforms.
  *
  * Position semantics follow the reference: stop-word removal advances the
  * position increment, so phrase positions skip over removed tokens
  * (`lucene/core/src/java/org/apache/lucene/analysis/StopFilter.java:25`).
  */
final case class Token(term: String, position: Int)

/** Zero-allocation token consumer: `src.substring(start, end)` is the term,
  * already normalized (lowercased). Implementations must not retain `src`
  * beyond the callback. */
trait TokenSink {
  def accept(src: String, start: Int, end: Int, position: Int): Unit
}

trait Analyzer extends Serializable {
  def tokenize(text: String): IndexedSeq[Token]

  /** Streaming tokenization: feeds each token as a (source, start, end)
    * slice instead of allocating a `Token` + `String` per occurrence — the
    * allocation-discipline mirror of the reference's term-hash byte pools
    * (`lucene/core/src/java/org/apache/lucene/index/TermsHashPerField.java`).
    * Default delegates to [[tokenize]]; hot-path analyzers override. */
  def tokenizeRaw(text: String, sink: TokenSink): Unit =
    tokenize(text).foreach(t => sink.accept(t.term, 0, t.term.length, t.position))

  /** name used to select the analyzer when reopening an index */
  def name: String
}

object Analyzers {
  /** The reference's classic 33-word English stop set
    * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/en/EnglishAnalyzer.java:45-50`). */
  val EnglishStopWords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if", "in",
    "into", "is", "it", "no", "not", "of", "on", "or", "such", "that", "the",
    "their", "then", "there", "these", "they", "this", "to", "was", "will",
    "with")

  /** High-frequency subset of the snowball German stop list the reference
    * ships as `german_stop.txt`
    * (`lucene/analysis/common/src/resources/org/apache/lucene/analysis/snowball/german_stop.txt`). */
  val GermanStopWords: Set[String] = Set(
    "aber", "als", "auch", "auf", "aus", "bei", "das", "dem", "den", "der",
    "des", "die", "durch", "ein", "eine", "einem", "einen", "einer", "eines",
    "er", "es", "für", "im", "in", "ist", "mit", "nicht", "oder", "sie",
    "sind", "über", "und", "unter", "von", "war", "wird", "zu", "zum", "zur")

  /** High-frequency subset of the snowball French stop list the reference
    * ships as `french_stop.txt`
    * (`lucene/analysis/common/src/resources/org/apache/lucene/analysis/snowball/french_stop.txt`). */
  val FrenchStopWords: Set[String] = Set(
    "au", "aux", "avec", "ce", "ces", "dans", "de", "des", "du", "elle",
    "en", "et", "est", "il", "ils", "je", "la", "le", "les", "leur", "lui",
    "mais", "même", "ne", "nous", "on", "ou", "où", "par", "pas", "pour",
    "que", "qui", "sa", "se", "ses", "son", "sur", "un", "une", "vous")

  /** High-frequency subset of the snowball Spanish stop list the reference
    * ships as `spanish_stop.txt`. */
  val SpanishStopWords: Set[String] = Set(
    "al", "como", "con", "de", "del", "el", "ella", "ellos", "en", "es",
    "esta", "este", "ha", "la", "las", "le", "les", "lo", "los", "más",
    "mi", "no", "nos", "o", "para", "pero", "por", "que", "se", "si",
    "sin", "sobre", "su", "sus", "también", "un", "una", "uno", "y", "ya")

  /** High-frequency subset of the snowball Italian stop list the reference
    * ships as `italian_stop.txt`. */
  val ItalianStopWords: Set[String] = Set(
    "a", "ad", "al", "alla", "alle", "allo", "ai", "agli", "che", "chi", "con",
    "da", "dal", "dalla", "del", "della", "delle", "di", "e", "ed", "è",
    "gli", "il", "in", "la", "le", "lo", "ma", "mi", "nel", "nella", "non",
    "o", "per", "più", "se", "si", "su", "sul", "sulla", "un", "una", "uno")

  /** High-frequency subset of the snowball Portuguese stop list the
    * reference ships as `portuguese_stop.txt`. */
  val PortugueseStopWords: Set[String] = Set(
    "a", "ao", "aos", "as", "às", "com", "como", "da", "das", "de", "do",
    "dos", "e", "é", "em", "entre", "mais", "mas", "na", "nas", "não", "no",
    "nos", "o", "os", "ou", "para", "pela", "pelo", "por", "que", "se",
    "sem", "seu", "sua", "um", "uma")

  /** High-frequency subset of the snowball Swedish stop list the reference
    * ships as `swedish_stop.txt`. */
  val SwedishStopWords: Set[String] = Set(
    "och", "det", "att", "i", "en", "jag", "hon", "som", "han", "på", "den",
    "med", "var", "sig", "för", "så", "till", "är", "men", "ett", "om",
    "hade", "de", "av", "icke", "mig", "du", "henne", "då", "sin", "nu",
    "har", "inte", "hans", "honom", "skulle", "hennes", "där", "min", "man")

  /** High-frequency subset of the snowball Norwegian stop list the reference
    * ships as `norwegian_stop.txt` (covers both Bokmål and Nynorsk forms,
    * like the reference's single shared list). */
  val NorwegianStopWords: Set[String] = Set(
    "og", "i", "jeg", "det", "at", "en", "et", "den", "til", "er", "som",
    "på", "de", "med", "han", "av", "ikke", "ikkje", "der", "så", "var",
    "meg", "seg", "men", "ett", "har", "om", "vi", "min", "mitt", "ha",
    "hadde", "hun", "nå", "over", "da", "ved", "fra", "du", "ut", "sin",
    "dem", "oss", "opp", "man")

  /** High-frequency subset of the snowball Russian stop list the reference
    * ships as `russian_stop.txt`. */
  val RussianStopWords: Set[String] = Set(
    "и", "в", "во", "не", "что", "он", "на", "я", "с", "со", "как", "а",
    "то", "все", "она", "так", "его", "но", "да", "ты", "к", "у", "же",
    "вы", "за", "бы", "по", "только", "ее", "мне", "было", "вот", "от",
    "меня", "еще", "нет", "о", "из", "ему")

  /** High-frequency subset of the snowball Finnish stop list the reference
    * ships as `finnish_stop.txt`. */
  val FinnishStopWords: Set[String] = Set(
    "olla", "olen", "olet", "on", "olemme", "olette", "ovat", "ole", "oli",
    "en", "et", "ei", "emme", "ette", "eivät", "minä", "sinä", "hän", "me",
    "te", "he", "tämä", "tuo", "se", "nämä", "nuo", "ne", "kuka", "mikä",
    "joka", "ja", "kun", "niin", "mitä", "että")

  /** High-frequency subset of the reference's Hungarian stop list
    * (`hungarian_stop.txt`). */
  val HungarianStopWords: Set[String] = Set(
    "a", "az", "egy", "és", "is", "de", "hogy", "nem", "ez", "azt", "van",
    "volt", "mint", "meg", "ha", "csak", "már", "el", "fel", "le", "ki",
    "be", "még", "vagy", "igen", "mert", "ezt", "abban", "akkor", "amely",
    "ami", "át", "így", "majd", "most")

  /** High-frequency subset of the reference's Arabic stop list
    * (`analysis/ar/stopwords.txt` — UNnormalized forms, checked before the
    * normalizer like the reference's filter order). */
  val ArabicStopWords: Set[String] = Set(
    "من", "ومن", "منها", "منه", "في", "وفي", "فيها", "فيه", "و", "ف",
    "ثم", "او", "أو", "ب", "بها", "به", "ا", "أ", "اى", "اي", "أي", "أى",
    "لا", "ولا", "الا", "ألا", "إلا", "لكن", "ما", "وما", "على", "عليه",
    "هذا", "هذه", "ذلك", "التي", "الذي", "ان", "أن", "إن", "كان", "قد")

  /** High-frequency subset of the reference's Persian stop list
    * (`analysis/fa/stopwords.txt` — already-normalized forms, checked AFTER
    * the normalizers like the reference's filter order). */
  val PersianStopWords: Set[String] = Set(
    "و", "در", "به", "از", "كه", "مي", "اين", "است", "را", "با", "هاي",
    "براي", "آن", "يك", "شود", "شده", "خود", "ها", "كرد", "شد", "اي",
    "تا", "كند", "بر", "بود", "گفت", "نيز", "وي", "هم", "كنند", "دارد",
    "ما", "كرده", "يا", "اما", "بايد", "دو", "اند", "هر", "خواهد")

  /** High-frequency subset of the reference's Sorani stop list
    * (`analysis/ckb/stopwords.txt` — normalized forms, checked after the
    * normalizer like the reference's filter order). */
  val SoraniStopWords: Set[String] = Set(
    "و", "کە", "ی", "کرد", "ئەوەی", "سەر", "دوو", "هەروەها", "لەو",
    "دەکات", "چەند", "هەر", "ئەو", "ئەم", "من", "ئێمە", "تۆ", "ئێوە",
    "ئەوان", "بە", "پێ", "بۆ", "لە", "لێ", "دوای", "جگە", "بێ")

  /** High-frequency subset of the reference's Indonesian stop list
    * (`analysis/id/stopwords.txt`). */
  val IndonesianStopWords: Set[String] = Set(
    "ada", "adalah", "adanya", "agar", "akan", "aku", "anda", "antara",
    "apa", "atau", "bagi", "bahwa", "banyak", "belum", "bisa", "dalam",
    "dan", "dari", "dengan", "di", "dia", "hanya", "harus", "ini", "itu",
    "jika", "juga", "kami", "kamu", "karena", "ke", "kita", "lebih",
    "mereka", "oleh", "pada", "saya", "sebagai", "sudah", "tidak",
    "untuk", "yang")

  /** High-frequency subset of the reference's Czech stop list
    * (`analysis/cz/stopwords.txt`). */
  val CzechStopWords: Set[String] = Set(
    "a", "s", "k", "o", "i", "u", "v", "z", "že", "je", "na", "do", "se",
    "by", "byl", "byla", "bylo", "jak", "ale", "či", "co", "tak", "to",
    "ten", "ta", "pro", "po", "při", "od", "už", "jen", "jsou", "jsem",
    "není", "nebo", "jeho", "její", "jejich", "který", "která", "které")

  /** The reference CJKAnalyzer's default stop set — common English words
    * plus "www" (`lucene/analysis/common/src/resources/org/apache/lucene/analysis/cjk/stopwords.txt`;
    * the file's double-byte interpunctions never reach the stop filter here
    * because the tokenizer already drops punctuation). */
  val CjkStopWords: Set[String] = Set(
    "a", "and", "are", "as", "at", "be", "but", "by", "for", "if", "in",
    "into", "is", "it", "no", "not", "of", "on", "or", "s", "such", "t",
    "that", "the", "their", "then", "there", "these", "they", "this", "to",
    "was", "will", "with", "www")

  /** High-frequency subset of the reference's Bulgarian stop list
    * (`bg/stopwords.txt`). */
  val BulgarianStopWords: Set[String] = Set(
    "а", "аз", "ако", "без", "беше", "би", "бил", "била", "било", "близо",
    "в", "вас", "вече", "ви", "вие", "винаги", "все", "всеки", "всички",
    "го", "да", "дали", "до", "е", "за", "и", "из", "или", "им", "има",
    "какво", "като", "кога", "когато", "което", "който", "ли", "между",
    "ме", "ми", "мога", "на", "над", "не", "него", "нея", "ние", "но",
    "от", "по", "при", "с", "са", "се", "си", "след", "сме", "става",
    "съм", "така", "там", "те", "ти", "то", "това", "той", "тя", "ще", "я")

  /** High-frequency subset of the reference's Latvian stop list
    * (`lv/stopwords.txt`). */
  val LatvianStopWords: Set[String] = Set(
    "aiz", "ap", "ar", "bez", "caur", "gar", "kopš", "labad", "līdz", "no",
    "pa", "par", "pār", "pēc", "pie", "pirms", "pret", "starp", "uz",
    "virs", "zem", "un", "bet", "jo", "ja", "ka", "lai", "tomēr", "tikko",
    "turpretī", "arī", "kaut", "gan", "tādēļ", "tā", "ne", "tikvien",
    "vien", "kā", "ir", "te", "vai", "kamēr", "ar?", "diezin", "droši",
    "diemžēl", "nebūt", "ik", "it", "taču", "nu", "pat", "tiklab",
    "nedz", "tik", "nevis", "turpretim", "jeb", "iekam", "iekām", "es",
    "tu", "viņš", "viņa", "šis", "šī", "tas", "kas", "kurš", "kura",
    "mans", "tavs", "savs", "būt", "biju", "bija", "būs", "esmu", "esi")

  /** High-frequency subset of the reference's Hindi stop list
    * (`hi/stopwords.txt` — matched AFTER normalization like the
    * reference's filter order, so normalized spellings). */
  val HindiStopWords: Set[String] = Set(
    "अंदर", "अत", "अपना", "अपनि", "अपने", "अभि", "अभी", "आदि", "आप", "इन",
    "इस", "इसका", "इसकि", "इसके", "इसमें", "इसि", "इसे", "उन", "उनका",
    "उस", "एक", "एवं", "और", "कई", "कर", "करता", "करते", "करना", "करने",
    "का", "कि", "किया", "किसि", "किसी", "की", "के", "को", "कोई", "कुछ",
    "जो", "तक", "तब", "तो", "था", "थि", "थी", "थे", "दिया", "दो", "न",
    "ना", "नहिं", "नहीं", "ने", "पर", "पहले", "फिर", "बहुत", "भि", "भी",
    "मे", "में", "यह", "यहाँ", "ये", "रहा", "रहे", "वह", "वे", "से", "हि",
    "ही", "हुआ", "है", "हैं", "हो", "होता", "होने")

  /** High-frequency subset of the reference's Bengali stop list
    * (`bn/stopwords.txt` — matched after normalization like the
    * reference's filter order). */
  val BengaliStopWords: Set[String] = Set(
    "এই", "ও", "থেকে", "করে", "এ", "না", "ওই", "এক", "নিয়ে", "করা",
    "বলেন", "সঙ্গে", "যে", "এব", "তা", "আর", "কোনো", "বলে", "সেই", "দিন",
    "হয়", "কি", "দু", "পরে", "সব", "দেওয়া", "মধ্যে", "এর", "সি", "শুরু",
    "কাজ", "কিছু", "কাছে", "সে", "তবে", "বা", "বন", "আগে", "জন", "পি",
    "এবং", "হতে", "হবে", "তার", "তিনি", "আমি", "আমরা", "তারা", "তাদের",
    "একটি", "জন্য", "ছিল", "কিন্তু", "যা", "এখন", "খুব", "ছিলেন")

  /** High-frequency subset of the snowball Irish stop list
    * (`snowball/irish_stop.txt`). */
  val IrishStopWords: Set[String] = Set(
    "a", "ach", "ag", "agus", "an", "aon", "ar", "arna", "as", "ba", "chomh",
    "chuig", "chun", "cois", "de", "den", "do", "don", "faoi", "faoin",
    "gach", "go", "i", "idir", "in", "ina", "le", "leis", "mar", "mo", "na",
    "nach", "ní", "níl", "ó", "ón", "os", "roimh", "sa", "san", "seo", "sin",
    "thar", "trí", "um")

  /** High-frequency subset of the reference's Armenian stop list
    * (`hy/stopwords.txt`). */
  val ArmenianStopWords: Set[String] = Set(
    "այդ", "այլ", "այն", "այս", "դու", "դուք", "եմ", "են", "ենք", "ես",
    "եք", "է", "էի", "էին", "էինք", "էիր", "էիք", "էր", "ըստ", "թ", "ի",
    "ին", "իսկ", "իր", "կամ", "համար", "հետ", "հետո", "մենք", "մեջ", "մի",
    "ն", "նա", "նաև", "նրա", "նրանք", "որ", "որը", "որոնք", "որպես", "ու",
    "ում", "պիտի", "վրա", "և")

  /** High-frequency subset of the reference's Lithuanian stop list
    * (`lt/stopwords.txt`). */
  val LithuanianStopWords: Set[String] = Set(
    "ant", "apie", "ar", "arba", "aš", "be", "bei", "bet", "bus", "būti",
    "būtų", "buvo", "dėl", "gali", "į", "iki", "ir", "iš", "ja", "ją",
    "jai", "jais", "jam", "jame", "jas", "jei", "ji", "jį", "jie", "jiems",
    "jis", "jo", "jog", "joje", "jos", "jų", "juo", "jus", "jūs", "ką",
    "kad", "kai", "kaip", "kas", "kol", "kur", "kuri", "kuris", "man",
    "mane", "mano", "mes", "ms", "mus", "mūsų", "ne", "nes", "net", "nuo",
    "o", "pat", "per", "po", "prie", "su", "tai", "taip", "tas", "tą",
    "ten", "tik", "to", "todėl", "tu", "tą", "už", "virš", "yra")

  /** High-frequency subset of the reference's Catalan stop list
    * (`ca/stopwords.txt`). */
  val CatalanStopWords: Set[String] = Set(
    "a", "abans", "així", "això", "al", "als", "altra", "altre", "altres",
    "amb", "aquell", "aquella", "aquest", "aquesta", "com", "de", "del",
    "dels", "des", "durant", "el", "els", "en", "encara", "entre", "era",
    "eren", "es", "és", "essent", "està", "estan", "fins", "fou", "ha",
    "han", "hi", "i", "ja", "la", "les", "li", "lo", "los", "més", "mentre",
    "no", "o", "on", "per", "però", "qual", "quan", "que", "qui", "se",
    "sense", "seu", "seva", "si", "sobre", "són", "sota", "també", "te",
    "tot", "un", "una", "unes", "uns")

  /** High-frequency subset of the reference's Basque stop list
    * (`eu/stopwords.txt`). */
  val BasqueStopWords: Set[String] = Set(
    "al", "anitz", "arabera", "asko", "baina", "bat", "batean", "batek",
    "bati", "batzuei", "batzuek", "batzuetan", "batzuk", "bera", "beraiek",
    "berau", "berauek", "bere", "berori", "beroriek", "beste", "bezala",
    "da", "dago", "dira", "ditu", "du", "dute", "edo", "egin", "ere", "eta",
    "eurak", "ez", "gainera", "gu", "gutxi", "guzti", "haiei", "haiek",
    "hara", "hari", "hark", "hartan", "hau", "hauei", "hauek", "hauetan",
    "hemen", "hi", "hona", "honek", "honela", "honetan", "honi", "hor",
    "hori", "horiei", "horiek", "horietan", "horko", "horra", "horrek",
    "horrela", "horretan", "horri", "hortik", "hura", "izan", "ni", "noiz",
    "nola", "non", "nondik", "nongo", "nor", "nora", "ze", "zein", "zen",
    "zenbait", "zenbat", "zer", "zergatik", "ziren", "zituen", "zu", "zuek",
    "zuen", "zuten")

  /** High-frequency subset of the reference's Estonian stop list
    * (`et/stopwords.txt`). */
  val EstonianStopWords: Set[String] = Set(
    "all", "alla", "alt", "eel", "enne", "hoolimata", "ilma", "kaudu",
    "keset", "kesk", "kohe", "koos", "kuni", "kõige", "ligi", "läbi",
    "mööda", "peale", "pealt", "piki", "pärast", "sealt", "seas", "sees",
    "siia", "siin", "siit", "sinna", "säärane", "taga", "taha", "tagant",
    "tagapool", "tema", "toona", "tõttu", "vahel", "vastu", "välja", "üle",
    "ümber", "ja", "ka", "kas", "kui", "mis", "mitte", "nagu", "need",
    "nende", "ning", "nüüd", "oled", "olen", "oli", "olid", "olla", "oma",
    "on", "sa", "seda", "see", "selle", "siis", "ta", "te", "vaid", "või")

  /** The reference's full Thai stop list
    * (`lucene/analysis/common/src/resources/org/apache/lucene/analysis/th/stopwords.txt`,
    * 115 entries, the published Sukhum/Nitsuwat/Haruechaiyasak list). */
  val ThaiStopWords: Set[String] = Set(
    "ไว้", "ไม่", "ไป", "ได้", "ให้", "ใน", "โดย", "แห่ง", "แล้ว", "และ",
    "แรก", "แบบ", "แต่", "เอง", "เห็น", "เลย", "เริ่ม", "เรา", "เมื่อ",
    "เพื่อ", "เพราะ", "เป็นการ", "เป็น", "เปิดเผย", "เปิด", "เนื่องจาก",
    "เดียวกัน", "เดียว", "เช่น", "เฉพาะ", "เคย", "เข้า", "เขา", "อีก",
    "อาจ", "อะไร", "ออก", "อย่าง", "อยู่", "อยาก", "หาก", "หลาย",
    "หลังจาก", "หลัง", "หรือ", "หนึ่ง", "ส่วน", "ส่ง", "สุด", "สําหรับ",
    "ว่า", "วัน", "ลง", "ร่วม", "ราย", "รับ", "ระหว่าง", "รวม", "ยัง",
    "มี", "มาก", "มา", "พร้อม", "พบ", "ผ่าน", "ผล", "บาง", "น่า", "นี้",
    "นํา", "นั้น", "นัก", "นอกจาก", "ทุก", "ที่สุด", "ที่", "ทําให้",
    "ทํา", "ทาง", "ทั้งนี้", "ทั้ง", "ถ้า", "ถูก", "ถึง", "ต้อง", "ต่างๆ",
    "ต่าง", "ต่อ", "ตาม", "ตั้งแต่", "ตั้ง", "ด้าน", "ด้วย", "ดัง", "ซึ่ง",
    "ช่วง", "จึง", "จาก", "จัด", "จะ", "คือ", "ความ", "ครั้ง", "คง",
    "ขึ้น", "ของ", "ขอ", "ขณะ", "ก่อน", "ก็", "การ", "กับ", "กัน", "กว่า",
    "กล่าว")

  /** The reference's Telugu stop list
    * (`lucene/analysis/common/src/resources/org/apache/lucene/analysis/te/stopwords.txt`,
    * 45 distinct entries; the two multi-word entries are kept verbatim like
    * the reference's CharArraySet, though no single token can match them). */
  val TeluguStopWords: Set[String] = Set(
    "అందరూ", "అందుబాటులో", "అడగండి", "అడగడం", "అడ్డంగా", "అనుగుణంగా",
    "అనుమతించు", "అనుమతిస్తుంది", "అయితే", "ఇప్పటికే", "ఉన్నారు",
    "ఎక్కడైనా", "ఎప్పుడు", "ఎవరైనా", "ఎవరో ఒకరు", "ఏ", "ఏదైనా",
    "ఏమైనప్పటికి", "ఒక", "ఒక ప్రక్కన", "కనిపిస్తాయి", "కాదు", "కూడా", "గా",
    "గురించి", "చుట్టూ", "చేయగలిగింది", "తగిన", "తర్వాత", "దాదాపు",
    "దూరంగా", "నిజంగా", "పై", "ప్రకారం", "మధ్య", "మరియు", "మరొక", "మళ్ళీ",
    "మాత్రమే", "మెచ్చుకో", "వద్ద", "వెంట", "వేరుగా", "వ్యతిరేకంగా",
    "సంబంధం")

  /** The reference's Nepali stop list (`ne/stopwords.txt`, 254 distinct). */
  val NepaliStopWords: Set[String] = Set(
    "अक्सर", "अगाडी", "अझै", "अनुसार", "अन्तर्गत", "अन्य", "अन्यत्र",
    "अन्यथा", "अब", "अरु", "अरुलाई", "अर्को", "अर्थात", "अर्थात्", "अलग",
    "आए", "आजको", "आत्म", "आदि", "आफू", "आफूलाई", "आफ्नै", "आफ्नो", "आयो",
    "उदाहरण", "उनको", "उनले", "उप", "उहालाई", "एउटै", "एक", "एकदम", "ओठ",
    "औं", "कतै", "कम से कम", "कसरी", "कसै", "कसैले", "कहाँबाट",
    "कहिलेकाहीं", "का", "कि", "किन", "किनभने", "कुनै", "कुरा", "कृपया",
    "के", "केही", "को", "कोही", "क्रमशः", "गए", "गयौ", "गरि", "गरी",
    "गरेका", "गरेको", "गरेर", "गरौं", "गर्छ", "गर्छु", "गर्दै", "गर्न",
    "गर्नु", "गर्नुपर्छ", "गर्ने", "गैर", "चार", "चाले", "चाहनुहुन्छ",
    "चाहन्छु", "चाहिए", "छ", "छन्", "छु", "छू", "छैन", "छौं", "जताततै",
    "जब", "जबकि", "जसको", "जसबाट", "जसमा", "जसलाई", "जसले", "जस्तै",
    "जस्तो", "जस्तोसुकै", "जहाँ", "जान", "जाहिर", "जुन", "जे", "जो", "ठीक",
    "त", "तत्काल", "तथा", "तदनुसार", "तपाई", "तपाईको", "तर", "तल", "तापनी",
    "तिनिहरुलाई", "तिनी", "तिनीहरुको", "तिनीहरू", "तिमी", "तिर", "ती",
    "तीन", "तुरुन्तै", "तेस्कारण", "तेस्रो", "त्यहाँ", "त्यो", "त्सपछि",
    "त्सैले", "थिए", "थिएन", "थियो", "दिए", "दिनुभएको", "दिनुहुन्छ", "दुई",
    "देखि", "देखिन्छ", "देखियो", "देखे", "देखेको", "देखेर", "दोस्रो",
    "धेरै", "न", "नजिकै", "नत्र", "नयाँ", "नि", "निम्ति", "निम्न",
    "निम्नानुसार", "निर्दिष्ट", "नै", "नौ", "पक्का", "पक्कै", "पछि",
    "पछिल्लो", "पटक", "पनि", "पर्छ", "पर्थ्यो", "पर्याप्त", "पहिले",
    "पहिलो", "पहिल्यै", "पाँच", "पाँचौं", "पूर्व", "प्रति", "प्रतेक",
    "प्लस", "फेरी", "बने", "बरु", "बारे", "बाहिर", "बाहेक", "बिरुद्ध",
    "बिशेष", "बीच", "बीचमा", "भए", "भएको", "भन", "भने", "भन्", "भन्छन्",
    "भन्छु", "भन्दा", "भन्नुभयो", "भन्ने", "भर", "भित्र", "भित्री", "म",
    "मलाई", "मा", "मात्र", "माथि", "मुख्य", "मेरो", "यति", "यथोचित", "यदि",
    "यद्यपि", "यस", "यसको", "यसपछि", "यसबाहेक", "यसरी", "यसो", "यस्तो",
    "यहाँ", "यहाँसम्म", "या", "यी", "यो", "र", "रही", "रहेका", "रहेको",
    "राखे", "राख्छ", "राम्रो", "रूप", "लगभग", "लाई", "लागि", "ले",
    "वरीपरी", "वास्तवमा", "शायद", "संग", "संगै", "सक्छ", "सट्टा", "सधै",
    "सबै", "सबैलाई", "समय", "सम्भव", "सम्म", "सही", "साँच्चै", "सात",
    "साथ", "साथै", "सायद", "सारा", "सो", "सोही", "स्पष्ट", "हरे", "हरेक",
    "हुन", "हुने", "हुन्", "हुन्छ", "हो")

  /** The reference's Tamil stop list (`ta/stopwords.txt`, 125 distinct). */
  val TamilStopWords: Set[String] = Set(
    "அங்கு", "அங்கே", "அடுத்த", "அதனால்", "அதன்", "அதற்கு", "அதிக",
    "அதில்", "அது", "அதே", "அதை", "அந்த", "அந்தக்", "அந்தப்", "அன்று",
    "அல்லது", "அவன்", "அவரது", "அவர்", "அவர்கள்", "அவள்", "அவை", "ஆகிய",
    "ஆகியோர்", "ஆகும்", "இங்கு", "இங்கே", "இடத்தில்", "இடம்", "இதனால்",
    "இதனை", "இதன்", "இதற்கு", "இதில்", "இது", "இதை", "இந்த", "இந்தக்",
    "இந்தத்", "இந்தப்", "இன்னும்", "இப்போது", "இரு", "இருக்கும்", "இருந்த",
    "இருந்தது", "இருந்து", "இவர்", "இவை", "உன்", "உள்ள", "உள்ளது", "உள்ளன",
    "எந்த", "என", "எனக்", "எனக்கு", "எனப்படும்", "எனவும்", "எனவே",
    "எனினும்", "எனும்", "என்", "என்ன", "என்னும்", "என்பது", "என்பதை",
    "என்ற", "என்று", "என்றும்", "எல்லாம்", "ஏன்", "ஒரு", "ஒரே", "ஓர்",
    "கொண்ட", "கொண்டு", "கொள்ள", "சற்று", "சிறு", "சில", "சேர்ந்த", "தனது",
    "தன்", "தவிர", "தான்", "நான்", "நாம்", "நீ", "பற்றி", "பற்றிய", "பல",
    "பலரும்", "பல்வேறு", "பின்", "பின்னர்", "பிற", "பிறகு", "பெரும்",
    "பேர்", "போது", "போன்ற", "போல", "போல்", "மட்டுமே", "மட்டும்", "மற்ற",
    "மற்றும்", "மிக", "மிகவும்", "மீது", "முதல்", "முறை", "மேலும்", "மேல்",
    "யார்", "வந்த", "வந்து", "வரும்", "வரை", "வரையில்", "விட", "விட்டு",
    "வேண்டும்", "வேறு")

  /** The reference's Serbian stop list (`sr/stopwords.txt`, 156 distinct). */
  val SerbianStopWords: Set[String] = Set(
    "a", "ali", "bi", "bih", "bila", "bile", "bili", "bilo", "bio", "bise",
    "bismo", "biste", "biti", "biše", "bude", "budem", "budemo", "budes",
    "budete", "budeš", "budimo", "budite", "budu", "ce", "cemo", "ces",
    "cete", "cu", "i", "ili", "je", "jesam", "jesi", "jesmo", "jeste",
    "jesu", "mogu", "moze", "mozemo", "mozes", "mozete", "može", "možemo",
    "možete", "možeš", "ne", "nece", "necemo", "neces", "necete", "necu",
    "neće", "nećemo", "nećete", "nećeš", "neću", "nije", "nijesam",
    "nijesi", "nijesmo", "nijeste", "nijesu", "nisam", "nisi", "nismo",
    "niste", "nisu", "pa", "sam", "si", "smo", "ste", "su", "će", "ćemo",
    "ćete", "ćeš", "ću", "а", "али", "би", "била", "биле", "били", "било",
    "био", "бисе", "бисмо", "бисте", "бити", "бих", "бише", "буде",
    "будем", "будемо", "будес", "будете", "будеш", "будимо", "будите",
    "буду", "и", "или", "могу", "може", "можемо", "можете", "можеш",
    "мозе", "моземо", "мозес", "мозете", "не", "неце", "нецемо", "нецес",
    "нецете", "нецу", "неће", "нећемо", "нећете", "нећеш", "нећу", "нисам",
    "ниси", "нисмо", "нисте", "нису", "није", "нијесам", "нијеси",
    "нијесмо", "нијесте", "нијесу", "па", "сам", "си", "смо", "сте", "су",
    "це", "цемо", "цес", "цете", "цу", "је", "јесам", "јеси", "јесмо",
    "јесте", "јесу", "ће", "ћемо", "ћете", "ћеш", "ћу")

  /** The reference's Galician stop list (`gl/stopwords.txt`, 160 distinct). */
  val GalicianStopWords: Set[String] = Set(
    "a", "alí", "ao", "aos", "aquel", "aquela", "aquelas", "aqueles",
    "aquilo", "aquí", "as", "así", "aínda", "ben", "cando", "che", "co",
    "coa", "coas", "comigo", "con", "connosco", "contigo", "convosco",
    "cos", "cun", "cunha", "cunhas", "cuns", "da", "dalgunha", "dalgunhas",
    "dalgún", "dalgúns", "das", "de", "del", "dela", "delas", "deles",
    "desde", "deste", "do", "dos", "dun", "dunha", "dunhas", "duns", "e",
    "el", "ela", "elas", "eles", "en", "era", "eran", "esa", "esas", "ese",
    "eses", "esta", "estaba", "estar", "este", "estes", "estiven", "estou",
    "está", "están", "eu", "facer", "foi", "foron", "fun", "había", "hai",
    "iso", "isto", "la", "las", "lle", "lles", "lo", "los", "mais", "me",
    "meu", "meus", "min", "miña", "miñas", "moi", "na", "nas", "neste",
    "nin", "no", "non", "nos", "nosa", "nosas", "noso", "nosos", "nun",
    "nunha", "nunhas", "nuns", "nós", "o", "os", "ou", "para", "pero",
    "pode", "pois", "pola", "polas", "polo", "polos", "por", "que", "se",
    "senón", "ser", "seu", "seus", "sexa", "sido", "sobre", "súa", "súas",
    "tamén", "tan", "te", "ten", "ter", "teu", "teus", "teñen", "teño",
    "ti", "tido", "tiven", "tiña", "túa", "túas", "un", "unha", "unhas",
    "uns", "vos", "vosa", "vosas", "voso", "vosos", "vós", "á", "é", "ó",
    "ós")

  /** The reference's Brazilian stop list (`br/stopwords.txt`, 127 distinct). */
  val BrazilianStopWords: Set[String] = Set(
    "a", "ainda", "alem", "ambas", "ambos", "antes", "ao", "aonde", "aos",
    "apos", "aquele", "aqueles", "as", "assim", "com", "como", "contra",
    "contudo", "cuja", "cujas", "cujo", "cujos", "da", "das", "de", "dela",
    "dele", "deles", "demais", "depois", "desde", "desta", "deste",
    "dispoe", "dispoem", "diversa", "diversas", "diversos", "do", "dos",
    "durante", "e", "ela", "elas", "ele", "eles", "em", "entao", "entre",
    "essa", "essas", "esse", "esses", "esta", "estas", "este", "estes",
    "ha", "isso", "isto", "logo", "mais", "mas", "mediante", "menos",
    "mesma", "mesmas", "mesmo", "mesmos", "na", "nao", "nas", "nem",
    "nesse", "neste", "no", "nos", "o", "os", "ou", "outra", "outras",
    "outro", "outros", "pelas", "pelo", "pelos", "perante", "pois", "por",
    "porque", "portanto", "propios", "proprio", "quais", "qual",
    "qualquer", "quando", "quanto", "que", "quem", "quer", "se", "seja",
    "sem", "sendo", "seu", "seus", "sob", "sobre", "sua", "suas", "tal",
    "tambem", "teu", "teus", "toda", "todas", "todo", "todos", "tua",
    "tuas", "tudo", "um", "uma", "umas", "uns")

  /** Dictionary-bearing analyzers (Hunspell, compound chains) register
    * their INSTANCE here at construction so a same-process index reopen
    * resolves the exact configuration. Their names carry no dictionary, so
    * a reopen in a process that has not constructed the instance throws
    * (the dictionary is a user asset that must be re-supplied, like the
    * reference's .aff/.dic). */
  private val dynamic = new java.util.concurrent.ConcurrentHashMap[String, Analyzer]()
  private[core] val instanceIds = new java.util.concurrent.atomic.AtomicInteger()
  private[core] def register(a: Analyzer): Unit = dynamic.put(a.name, a)

  def byName(name: String): Analyzer = {
    val dyn = dynamic.get(name)
    if (dyn != null) return dyn
    byNameStatic(name)
  }

  private def byNameStatic(name: String): Analyzer = name match {
    case "simple"         => SimpleAnalyzer
    case "standard"       => StandardLikeAnalyzer()
    case "simple-en-stop" => SimpleStopAnalyzer(EnglishStopWords)
    case "english"        => EnglishAnalyzer()
    case "german"         => GermanAnalyzer()
    case "french"         => FrenchAnalyzer()
    case "spanish"        => SpanishAnalyzer()
    case "cjk"            => CjkAnalyzer()
    case "italian"        => ItalianAnalyzer()
    case "portuguese"     => PortugueseAnalyzer()
    case "swedish"        => SwedishAnalyzer()
    case "norwegian"      => NorwegianAnalyzer()
    case "norwegian-nynorsk" => NorwegianAnalyzer(nynorsk = true)
    case "russian"        => RussianAnalyzer()
    case "finnish"        => FinnishAnalyzer()
    case "hungarian"      => HungarianAnalyzer()
    case "arabic"         => ArabicAnalyzer()
    case "persian"        => PersianAnalyzer()
    case "sorani"         => SoraniAnalyzer()
    case "indonesian"     => IndonesianAnalyzer()
    case "indonesian-inflectional" => IndonesianAnalyzer(stemDerivational = false)
    case "czech"          => CzechAnalyzer()
    case "danish"         => DanishAnalyzer()
    case "dutch"          => DutchAnalyzer()
    case "romanian"       => RomanianAnalyzer()
    case "turkish"        => TurkishAnalyzer()
    case "greek"          => GreekAnalyzer()
    case "bulgarian"      => BulgarianAnalyzer()
    case "latvian"        => LatvianAnalyzer()
    case "hindi"          => HindiAnalyzer()
    case "bengali"        => BengaliAnalyzer()
    case "irish"          => IrishAnalyzer()
    case "armenian"       => ArmenianAnalyzer()
    case "lithuanian"     => LithuanianAnalyzer()
    case "catalan"        => CatalanAnalyzer()
    case "basque"         => BasqueAnalyzer()
    case "estonian"       => EstonianAnalyzer()
    case "thai"           => ThaiAnalyzer()
    case "telugu"         => TeluguAnalyzer()
    case "nepali"         => NepaliAnalyzer()
    case "tamil"          => TamilAnalyzer()
    case "serbian"        => SerbianAnalyzer()
    case "galician"       => GalicianAnalyzer()
    case "brazilian"      => BrazilianAnalyzer()
    case "folding"        => AsciiFoldingAnalyzer()
    case s if s.startsWith("shingle-") => // "shingle-<n>" over SimpleAnalyzer
      ShingleAnalyzer(SimpleAnalyzer, s.stripPrefix("shingle-").toInt)
    // commongrams[-query]:<inner>:<w1,w2,..> — split at the LAST colon: the
    // inner name may hold colons (phonetic:…), the word list holds none
    case s if s.startsWith("commongrams:") =>
      val rest = s.stripPrefix("commongrams:")
      val sep = rest.lastIndexOf(':')
      CommonGramsAnalyzer(byName(rest.substring(0, sep)),
        rest.substring(sep + 1).split(',').toSet)
    case s if s.startsWith("commongrams-query:") =>
      val rest = s.stripPrefix("commongrams-query:")
      val sep = rest.lastIndexOf(':')
      CommonGramsQueryAnalyzer(byName(rest.substring(0, sep)),
        rest.substring(sep + 1).split(',').toSet)
    case "hunspell"       => HunspellAnalyzer.empty // dictionary is a user asset
    // a dictionary-bearing instance resolves only through the registry: a
    // dictionary-less stand-in would analyze queries unlike the index
    case s if s.startsWith("hunspell:") || s.startsWith("german-compound:") ||
        s.startsWith("dutch-compound:") =>
      throw new IllegalArgumentException(
        s"analyzer '$s' carries a user dictionary that is not constructed in this process: " +
          "construct the analyzer with its dictionary in this process before opening the index")
    case s if s.startsWith("double-metaphone:") => // double-metaphone:<len>:<inject>
      val Array(len, inj) = s.stripPrefix("double-metaphone:").split(':')
      DoubleMetaphoneAnalyzer(len.toInt, inj.toBoolean)
    case s if s.startsWith("phonetic:") => // phonetic:<encoder>:<inject>:<len>
      val Array(enc, inj, len) = s.stripPrefix("phonetic:").split(':')
      PhoneticAnalyzer(enc, inj.toBoolean, len.toInt)
    case s if s.startsWith("daitch-mokotoff:") =>
      DaitchMokotoffAnalyzer(s.stripPrefix("daitch-mokotoff:").toBoolean)
    case s if s.startsWith("reverse:") =>
      ReverseStringAnalyzer(byName(s.stripPrefix("reverse:")))
    case s if s.startsWith("word-delimiter:") => // word-delimiter:<flags>:<inner>
      val rest = s.stripPrefix("word-delimiter:")
      val sep = rest.indexOf(':')
      WordDelimiterGraphAnalyzer(byName(rest.substring(sep + 1)),
        rest.substring(0, sep).toInt)
    // word-delimiter-protected:<flags>:<URL-encoded w1,w2,..>:<inner>
    case s if s.startsWith("word-delimiter-protected:") =>
      val Array(flags, words, inner) = s.stripPrefix("word-delimiter-protected:").split(":", 3)
      WordDelimiterGraphAnalyzer(byName(inner), flags.toInt,
        words.split(",", -1).map(java.net.URLDecoder.decode(_, "UTF-8")).toSet)
    case s if s.startsWith("english-excl:") => // english-excl:<w1,w2,...>
      EnglishAnalyzer(stemExclusions = s.stripPrefix("english-excl:").split(',').toSet)
    case s if s.startsWith("payload-delim-") => // payload-delim-<char>
      DelimitedPayloadAnalyzer(s.stripPrefix("payload-delim-").head)
    case s if s.startsWith("pattern:") || s.startsWith("pattern-cased:") =>
      // pattern[-cased]:<group>:<regex>
      val Array(kind, group, regex) = s.split(":", 3)
      PatternAnalyzer(regex, group.toInt, toLower = kind == "pattern")
    case s if s.startsWith("ngram-") => // "ngram-<min>-<max>" over SimpleAnalyzer
      val parts = s.stripPrefix("ngram-").split("-")
      NGramAnalyzer(SimpleAnalyzer, parts(0).toInt, parts(1).toInt)
    case other            => throw new IllegalArgumentException(s"unknown analyzer: $other")
  }
}

/** Lowercase + maximal runs of ASCII letters/digits. Deliberately expressible
  * in ANSI SQL (`regexp_split` on `[^a-z0-9]+` after `lower()`), so DuckDB can
  * act as a correctness oracle for every query operator built on top.
  */
object SimpleAnalyzer extends Analyzer {
  override val name = "simple"
  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }

  override def tokenizeRaw(text: String, sink: TokenSink): Unit = {
    val lower = text.toLowerCase
    val n = lower.length
    var i = 0
    var pos = 0
    while (i < n) {
      val c = lower.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val start = i
        while (i < n && { val d = lower.charAt(i); (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9') }) i += 1
        sink.accept(lower, start, i, pos)
        pos += 1
      } else i += 1
    }
  }
}

/** UAX#29 word-break-class scanner — a direct rule implementation of the
  * segmentation the reference's generated JFlex DFA encodes
  * (`lucene/core/src/java/org/apache/lucene/analysis/standard/StandardTokenizerImpl.jflex`):
  * letter/digit runs with MidLetter / MidNum / MidNumLet / Single_Quote
  * joiners (WB6-12), ExtendNumLet bridging (WB13a/b), Extend/Format/ZWJ
  * transparency (WB4), per-character Han and Hiragana tokens, Katakana runs.
  * Fidelity is pinned by `TokenizerFixtureSpec` against a golden corpus
  * produced by the reference's real scanner. */
private[core] object Uax29 {
  final val Break = 0; final val ALetter = 1; final val Numeric = 2
  final val MidLetter = 3; final val MidNum = 4; final val MidNumLet = 5
  final val SQ = 6; final val ENL = 7; final val Ignore = 8
  final val Han = 9; final val Hira = 10; final val Kata = 11

  def cls(cp: Int): Int = cp match {
    case 0x200B => Break // ZWSP is a break opportunity, NOT Format (UAX#29)
    case 0x3A | 0xB7 | 0x387 | 0x5F4 | 0x2027 | 0xFE13 | 0xFE55 | 0xFF1A => MidLetter
    case 0x2C | 0x3B | 0x66B | 0x66C | 0xFE50 | 0xFE54 | 0xFF0C | 0xFF1B => MidNum
    case 0x2E | 0x2019 | 0x2024 | 0xFE52 | 0xFF0E => MidNumLet
    case 0x27 => SQ
    case 0x30FC | 0x30A0 => Kata // prolonged-sound mark etc.: WB class Katakana
    case _ =>
      val t = Character.getType(cp)
      if (t == Character.CONNECTOR_PUNCTUATION) ENL
      else if (t == Character.NON_SPACING_MARK || t == Character.COMBINING_SPACING_MARK ||
        t == Character.ENCLOSING_MARK || t == Character.FORMAT) Ignore
      else if (Character.isDigit(cp)) Numeric // Nd only: sub/superscripts break
      else if (Character.isLetter(cp) || t == Character.LETTER_NUMBER) {
        val sc = Character.UnicodeScript.of(cp)
        if (sc == Character.UnicodeScript.HAN) Han
        else if (sc == Character.UnicodeScript.HIRAGANA) Hira
        else if (sc == Character.UnicodeScript.KATAKANA) Kata
        else ALetter
      } else Break
  }

  /** Emit each word span `(start, end)`; spans include interior joiners and
    * attached Extend/Format characters, exactly like the JFlex matches. */
  def scan(text: String, emit: (Int, Int) => Unit): Unit = {
    val n = text.length
    // skip Extend/Format/ZWJ (WB4 transparency) forward from j
    def skipIgnore(j0: Int): Int = {
      var j = j0
      while (j < n) {
        val cp = text.codePointAt(j)
        if (cls(cp) == Ignore) j += Character.charCount(cp) else return j
      }
      j
    }
    var i = 0
    while (i < n) {
      val cp = text.codePointAt(i)
      val c = cls(cp)
      val cc = Character.charCount(cp)
      if (c == Han || c == Hira) {
        // one token per ideograph / hiragana char (WB999 between them)
        val e = skipIgnore(i + cc)
        emit(i, e)
        i = e
      } else if (c == ALetter || c == Numeric || c == ENL || c == Kata) {
        val start = i
        var last = c // class of the last word char consumed
        var j = skipIgnore(i + cc)
        var grow = true
        while (grow && j < n) {
          val cp2 = text.codePointAt(j)
          val c2 = cls(cp2)
          val cc2 = Character.charCount(cp2)
          c2 match {
            case ALetter | Numeric => // WB5/8/9/10; Katakana doesn't chain into them
              if (last == Kata) grow = false
              else { last = c2; j = skipIgnore(j + cc2) }
            case Kata => // WB13 Katakana x Katakana; WB13b ENL x Katakana
              if (last == Kata || last == ENL) { last = c2; j = skipIgnore(j + cc2) }
              else grow = false
            case ENL => // WB13a: (ALetter|Numeric|Katakana|ENL) x ENL
              last = c2; j = skipIgnore(j + cc2)
            case MidLetter | MidNum | MidNumLet | SQ => // WB6/7/11/12: need both sides
              val k = skipIgnore(j + cc2)
              val c3 = if (k < n) cls(text.codePointAt(k)) else Break
              val joins = c2 match {
                case MidLetter | SQ => last == ALetter && c3 == ALetter
                case MidNum => last == Numeric && c3 == Numeric
                case _ => (last == ALetter && c3 == ALetter) ||
                  (last == Numeric && c3 == Numeric)
              }
              if (joins) { last = c3; j = skipIgnore(k + Character.charCount(text.codePointAt(k))) }
              else grow = false
            case _ => grow = false
          }
        }
        // a bare ExtendNumLet run is not a word (JFlex requires >= 1 alnum)
        var hasAlnum = false
        var t = start
        while (!hasAlnum && t < j) {
          val cpT = text.codePointAt(t)
          val cT = cls(cpT)
          if (cT == ALetter || cT == Numeric || cT == Kata) hasAlnum = true
          t += Character.charCount(cpT)
        }
        if (hasAlnum) emit(start, j)
        i = j
      } else {
        i += cc
      }
    }
  }
}

/** UAX#29 word segmentation (see [[Uax29]]), then lowercase, then an
  * optional stop set — the shape of the reference's `StandardAnalyzer`
  * (`lucene/core/src/java/org/apache/lucene/analysis/standard/StandardAnalyzer.java:37`,
  * default stop set EMPTY per `StandardAnalyzer.java:51-53`).
  * Tokens longer than `maxTokenLength` (default 255) are split into
  * maxTokenLength-char chunks, all kept — the reference's empirical default
  * behavior (the scanner buffer is sized to maxTokenLength,
  * `StandardTokenizer.java:101-104`, so the DFA's match is truncated at
  * buffer capacity and the remainder scans as a fresh token; golden fixture
  * line "before a*300 after" shows 255 + 45, both emitted).
  */
final case class StandardLikeAnalyzer(
    stopWords: Set[String] = Set.empty,
    maxTokenLength: Int = 255) extends Analyzer {
  override val name = "standard"

  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    var pos = 0
    Uax29.scan(text, (start, end) => {
      var s = start
      while (s < end) { // split over-long matches at buffer capacity
        val e = math.min(s + maxTokenLength, end)
        val term = text.substring(s, e).toLowerCase(java.util.Locale.ROOT)
        if (stopWords.contains(term)) {
          pos += 1 // stop filter: drop token, keep the position increment
        } else {
          out += Token(term, pos)
          pos += 1
        }
        s = e
      }
    })
    out.result()
  }
}

/** [[SimpleAnalyzer]] runs + a stop filter that keeps position increments
  * (`lucene/core/src/java/org/apache/lucene/analysis/StopFilter.java:25`):
  * dropped stopwords still advance the position, so phrases cannot match
  * across them. Deliberately SQL-expressible (filter the simple token stream
  * by the stop set, keep original positions), so stop-filtered indexes remain
  * DuckDB-oracle-checkable. */
final case class SimpleStopAnalyzer(stopWords: Set[String]) extends Analyzer {
  override val name = "simple-en-stop"

  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }

  override def tokenizeRaw(text: String, sink: TokenSink): Unit =
    SimpleAnalyzer.tokenizeRaw(text, new TokenSink {
      override def accept(src: String, start: Int, end: Int, position: Int): Unit = {
        // position is the pre-filter token index — the increment survives
        if (!stopWords.contains(src.substring(start, end)))
          sink.accept(src, start, end, position)
      }
    })
}

/** The reference's English analysis chain
  * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/en/EnglishAnalyzer.java:102-110`):
  * standard (UAX#29-style) tokenization → possessive strip (trailing 's,
  * `EnglishPossessiveFilter.java`) → lowercase → English stop set (position
  * increments kept) → keyword marker (`SetKeywordMarkerFilter` — stem
  * exclusions pass the stemmer verbatim) → Porter stemmer. */
final case class EnglishAnalyzer(
    stopWords: Set[String] = Analyzers.EnglishStopWords,
    stemExclusions: Set[String] = Set.empty) extends Analyzer {
  override val name =
    if (stemExclusions.isEmpty) "english"
    else s"english-excl:${stemExclusions.toSeq.sorted.mkString(",")}"

  private def stripPossessive(t: String): String =
    if (t.length >= 2 && (t.endsWith("'s") || t.endsWith("’s") || t.endsWith("＇s")))
      t.substring(0, t.length - 2)
    else t

  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    StandardLikeAnalyzer().tokenize(text).foreach { tok =>
      val stripped = stripPossessive(tok.term)
      if (!stopWords.contains(stripped)) {
        val term =
          if (stemExclusions.contains(stripped)) stripped
          else PorterStemmer.stem(stripped)
        out += Token(term, tok.position)
      }
      // stopped terms keep their position increment (position is pre-filter)
    }
    out.result()
  }
}

/** German light stemmer — the shape of the reference's
  * `GermanLightStemmer` (Savoy's UniNE light stemmer;
  * `lucene/analysis/common/src/java/org/apache/lucene/analysis/de/GermanLightStemmer.java`):
  * umlaut/ß folding then plural/case suffix removal. Deliberately reduced to
  * ONE suffix pass with fixed length guards so the exact transform is
  * ANSI-SQL-expressible (the oracle replays it as a CASE expression); the
  * reference additionally iterates a second pass and folds inside the token —
  * the divergence is quantified in GermanSpec. */
object GermanLightStem extends Serializable {
  def fold(s: String): String = {
    val b = new StringBuilder(s.length)
    s.foreach {
      case 'ä' => b.append('a')
      case 'ö' => b.append('o')
      case 'ü' => b.append('u')
      case 'ß' => b.append("ss")
      case c => b.append(c)
    }
    b.toString
  }

  def stem(term: String): String = {
    val f = fold(term)
    val n = f.length
    if (n >= 6 && f.endsWith("ern")) f.substring(0, n - 3)
    else if (n >= 5 && (f.endsWith("em") || f.endsWith("en") ||
      f.endsWith("er") || f.endsWith("es"))) f.substring(0, n - 2)
    else if (n >= 4 && (f.endsWith("e") || f.endsWith("n") || f.endsWith("s")))
      f.substring(0, n - 1)
    else f
  }
}

/** Dictionary-driven compound-word decomposition — the reference's
  * `DictionaryCompoundWordTokenFilter`
  * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/compound/
  * DictionaryCompoundWordTokenFilterBase.java:38`,
  * `DictionaryCompoundWordTokenFilter.java:74-105`): brute-force substring
  * scan of each token ≥ `minWordSize` against a case-insensitive dictionary;
  * every dictionary hit of length in [`minSubwordSize`, `maxSubwordSize`]
  * becomes an extra token STACKED at the original's position (posInc 0 in
  * the reference — here: same `position`, like synonym stacking), with the
  * ORIGINAL token always passing through first. `onlyLongestMatch` keeps
  * only the longest hit per start offset; `onlyLongestMatchNoSubwords`
  * additionally skips the scan past each kept hit (so a hit's own infixes
  * are never emitted). Subword text is the SUBSTRING of the input token,
  * not the dictionary entry — "Bildörr" with {"Dörr"} emits "dörr".
  * Parity: CompoundSpec replays the reference's
  * `TestCompoundWordTokenFilter` vectors. */
final case class CompoundWordDictionary(
    words: Set[String],
    minWordSize: Int = 5,
    minSubwordSize: Int = 2,
    maxSubwordSize: Int = 15,
    onlyLongestMatch: Boolean = false,
    onlyLongestMatchNoSubwords: Boolean = false) extends Serializable {

  private val dict: Set[String] = words.map(_.toLowerCase(java.util.Locale.ROOT))

  /** Subwords of `term` in scan order (term itself NOT included). */
  def decompose(term: String): Seq[String] = {
    if (term.length < minWordSize) return Nil
    val lower = term.toLowerCase(java.util.Locale.ROOT)
    val len = term.length
    val out = Seq.newBuilder[String]
    val longest = onlyLongestMatch || onlyLongestMatchNoSubwords
    var i = 0
    while (i <= len - minSubwordSize) {
      var best = -1
      var j = minSubwordSize
      var break = false
      while (!break && j <= maxSubwordSize) {
        if (i + j > len) break = true
        else {
          if (dict.contains(lower.substring(i, i + j))) {
            if (longest) { if (best < j) best = j }
            else out += term.substring(i, i + j)
          }
          j += 1
        }
      }
      if (best > 0) {
        out += term.substring(i, i + best)
        if (onlyLongestMatchNoSubwords) i += best - 1
      }
      i += 1
    }
    out.result()
  }
}

/** German analysis chain through the per-language registry — the reference's
  * `GermanAnalyzer` shape
  * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/de/GermanAnalyzer.java`):
  * tokenize → lowercase → stop(DE, position increments kept) →
  * [compound decomposition when a dictionary is given] → light stem.
  * The stop set is a representative high-frequency subset of the snowball
  * German list the reference loads from `german_stop.txt` (the full list is a
  * data file, not an algorithm; the subset keeps the oracle SQL readable).
  * A non-empty `compound` dictionary stacks each token's dictionary
  * subwords at its position before stemming (the Germanic-compound recall
  * chain the reference assembles from `DictionaryCompoundWordTokenFilter`);
  * subwords flow through the same stemmer as their parents. */
final case class GermanAnalyzer(
    stopWords: Set[String] = Analyzers.GermanStopWords,
    compound: Option[CompoundWordDictionary] = None)
    extends Analyzer {
  override val name =
    if (compound.isEmpty) "german"
    else s"german-compound:${Analyzers.instanceIds.incrementAndGet()}"
  if (compound.nonEmpty) Analyzers.register(this)
  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }
  override def tokenizeRaw(text: String, sink: TokenSink): Unit =
    SimpleUnicodeAnalyzer.tokenize(text).foreach { t =>
      // stop check on the SURFACE form, like the reference (stem after stop)
      if (!stopWords.contains(t.term)) {
        val stemmed = GermanLightStem.stem(t.term)
        sink.accept(stemmed, 0, stemmed.length, t.position)
        compound.foreach(_.decompose(t.term).foreach { sub =>
          val ss = GermanLightStem.stem(sub)
          sink.accept(ss, 0, ss.length, t.position)
        })
      }
    }
}

/** French light stemmer — the shape of the reference's `FrenchLightStemmer`
  * (Savoy's UniNE light stemmer;
  * `lucene/analysis/common/src/java/org/apache/lucene/analysis/fr/FrenchLightStemmer.java`):
  * diacritic folding then plural/gender/verb suffix removal. Like
  * [[GermanLightStem]], deliberately reduced to ONE suffix pass with fixed
  * length guards so the exact transform is ANSI-SQL-expressible; the
  * reference additionally normalizes double consonants and iterates — the
  * divergence is quantified in RomanceSpec. */
object FrenchLightStem extends Serializable {
  def fold(s: String): String = {
    val b = new StringBuilder(s.length)
    s.foreach {
      case 'à' | 'â' | 'ä' => b.append('a')
      case 'é' | 'è' | 'ê' | 'ë' => b.append('e')
      case 'î' | 'ï' => b.append('i')
      case 'ô' | 'ö' => b.append('o')
      case 'ù' | 'û' | 'ü' => b.append('u')
      case 'ç' => b.append('c')
      case 'œ' => b.append("oe")
      case c => b.append(c)
    }
    b.toString
  }

  def stem(term: String): String = {
    val f = fold(term)
    val n = f.length
    if (n >= 6 && f.endsWith("aux")) f.substring(0, n - 3) + "al" // chevaux→cheval
    else if (n >= 5 && f.endsWith("x")) f.substring(0, n - 1)
    else if (n >= 6 && f.endsWith("ent")) f.substring(0, n - 3) // 3pl verbs
    else if (n >= 5 && f.endsWith("es")) f.substring(0, n - 2)
    else if (n >= 4 && f.endsWith("s")) f.substring(0, n - 1)
    else if (n >= 4 && f.endsWith("e")) f.substring(0, n - 1)
    else f
  }
}

/** Spanish light stemmer — the shape of the reference's
  * `SpanishLightStemmer` (Savoy's UniNE;
  * `lucene/analysis/common/src/java/org/apache/lucene/analysis/es/SpanishLightStemmer.java`):
  * accent folding then plural/gender vowel suffix removal, one
  * length-guarded pass (SQL-expressible; divergence from the reference's
  * switch cascade quantified in RomanceSpec). */
object SpanishLightStem extends Serializable {
  def fold(s: String): String = {
    val b = new StringBuilder(s.length)
    s.foreach {
      case 'á' => b.append('a')
      case 'é' => b.append('e')
      case 'í' => b.append('i')
      case 'ó' => b.append('o')
      case 'ú' | 'ü' => b.append('u')
      case 'ñ' => b.append('n')
      case c => b.append(c)
    }
    b.toString
  }

  def stem(term: String): String = {
    val f = fold(term)
    val n = f.length
    if (n >= 5 && (f.endsWith("os") || f.endsWith("as") || f.endsWith("es")))
      f.substring(0, n - 2)
    else if (n >= 4 && (f.endsWith("o") || f.endsWith("a") || f.endsWith("e")))
      f.substring(0, n - 1)
    else if (n >= 4 && f.endsWith("s")) f.substring(0, n - 1)
    else f
  }
}

/** French analysis chain (reference `FrenchAnalyzer.java` shape):
  * tokenize → lowercase → elision strip (l'art → art,
  * `ElisionFilter.java` with the French article set) → stop(FR, increments
  * kept) → light stem. Stop set is a high-frequency subset of the snowball
  * `french_stop.txt`, like the German chain. */
final case class FrenchAnalyzer(stopWords: Set[String] = Analyzers.FrenchStopWords)
    extends Analyzer {
  override val name = "french"
  private val elisions = Set("l", "m", "t", "qu", "n", "s", "j", "d", "c",
    "jusqu", "quoiqu", "lorsqu", "puisqu") // reference DEFAULT_ARTICLES

  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }
  override def tokenizeRaw(text: String, sink: TokenSink): Unit = {
    // the unicode tokenizer splits at the apostrophe, so an elided article
    // (l'art) arrives as a standalone token FOLLOWED BY an apostrophe in the
    // source: drop exactly those without consuming a position (the
    // reference's ElisionFilter rewrites l'art to ONE token "art"). A
    // standalone article with no apostrophe (common word "l" won't occur,
    // but e.g. "d" in initials) falls through to the stop filter, which
    // keeps its position increment — matching the reference, where
    // ElisionFilter never touches apostrophe-free tokens (ADVICE r3 #1).
    var elided = 0
    ElisionTokens.foreach(text) { (term, pos, apos) =>
      if (apos && elisions.contains(term)) elided += 1
      else if (!stopWords.contains(term)) {
        val stemmed = FrenchLightStem.stem(term)
        sink.accept(stemmed, 0, stemmed.length, pos - elided)
      }
    }
  }
}

/** Spanish analysis chain (reference `SpanishAnalyzer.java` shape):
  * tokenize → lowercase → stop(ES, increments kept) → light stem. */
final case class SpanishAnalyzer(stopWords: Set[String] = Analyzers.SpanishStopWords)
    extends Analyzer {
  override val name = "spanish"
  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }
  override def tokenizeRaw(text: String, sink: TokenSink): Unit =
    SimpleUnicodeAnalyzer.tokenize(text).foreach { t =>
      if (!stopWords.contains(t.term)) {
        val stemmed = SpanishLightStem.stem(t.term)
        sink.accept(stemmed, 0, stemmed.length, t.position)
      }
    }
}

/** Minimal HTML→text extraction: drops tags (including full
  * script/style/comment bodies), decodes the common named + numeric entities,
  * and collapses nothing else — the behavioral contract of the reference's
  * `HTMLStripCharFilter`
  * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/charfilter/HTMLStripCharFilter.java:39`)
  * restricted to the synthetic corpus's well-formed markup (FIXTURES.md §1:
  * the per-row invariant is strip(html) == text exactly).
  */
object HtmlStrip extends Serializable {
  /** Named character references — the HTML4 set the reference's generated
    * `HTMLCharacterEntities.jflex` covers (restricted to the names that
    * occur in practice; the reference's table is HTML5-complete). */
  private val entities: Map[String, String] = {
    val m = Map.newBuilder[String, String]
    m ++= Seq(
      "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
      "nbsp" -> " ") // the reference maps nbsp to a PLAIN space (HTMLCharacterEntities.jflex:124)
    // Latin-1 block (HTML4 lat1): &iexcl; .. &yuml; are U+00A1..U+00FF in order
    val lat1 = Seq(
      "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect", "uml",
      "copy", "ordf", "laquo", "not", "shy", "reg", "macr", "deg", "plusmn",
      "sup2", "sup3", "acute", "micro", "para", "middot", "cedil", "sup1",
      "ordm", "raquo", "frac14", "frac12", "frac34", "iquest", "Agrave",
      "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig", "Ccedil",
      "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute", "Icirc",
      "Iuml", "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc", "Otilde", "Ouml",
      "times", "Oslash", "Ugrave", "Uacute", "Ucirc", "Uuml", "Yacute",
      "THORN", "szlig", "agrave", "aacute", "acirc", "atilde", "auml",
      "aring", "aelig", "ccedil", "egrave", "eacute", "ecirc", "euml",
      "igrave", "iacute", "icirc", "iuml", "eth", "ntilde", "ograve",
      "oacute", "ocirc", "otilde", "ouml", "divide", "oslash", "ugrave",
      "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml")
    lat1.zipWithIndex.foreach { case (name, i) => m += name -> (0xA1 + i).toChar.toString }
    // Greek (HTML4 symbol set); U+03A2 is unassigned, so Sigma onward shift by one
    val greekUpper = Seq("Alpha", "Beta", "Gamma", "Delta", "Epsilon", "Zeta",
      "Eta", "Theta", "Iota", "Kappa", "Lambda", "Mu", "Nu", "Xi", "Omicron",
      "Pi", "Rho", "Sigma", "Tau", "Upsilon", "Phi", "Chi", "Psi", "Omega")
    greekUpper.zipWithIndex.foreach { case (name, i) =>
      val cp = if (i >= 17) 0x392 + i else 0x391 + i
      m += name -> cp.toChar.toString
    }
    val greekLower = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigmaf", "sigma", "tau", "upsilon", "phi", "chi", "psi",
      "omega")
    greekLower.zipWithIndex.foreach { case (name, i) => m += name -> (0x3C2 + i - 17).toChar.toString }
    // common typographic / symbol references
    m ++= Seq(
      "OElig" -> "\u0152", "oelig" -> "\u0153", "Scaron" -> "\u0160",
      "scaron" -> "\u0161", "Yuml" -> "\u0178", "fnof" -> "\u0192",
      "ndash" -> "\u2013", "mdash" -> "\u2014", "lsquo" -> "\u2018",
      "rsquo" -> "\u2019", "sbquo" -> "\u201a", "ldquo" -> "\u201c",
      "rdquo" -> "\u201d", "bdquo" -> "\u201e", "dagger" -> "\u2020",
      "Dagger" -> "\u2021", "bull" -> "\u2022", "hellip" -> "\u2026",
      "permil" -> "\u2030", "prime" -> "\u2032", "Prime" -> "\u2033",
      "lsaquo" -> "\u2039", "rsaquo" -> "\u203a", "oline" -> "\u203e",
      "frasl" -> "\u2044", "euro" -> "\u20ac", "trade" -> "\u2122",
      "minus" -> "\u2212", "infin" -> "\u221e", "ne" -> "\u2260",
      "le" -> "\u2264", "ge" -> "\u2265", "larr" -> "\u2190",
      "uarr" -> "\u2191", "rarr" -> "\u2192", "darr" -> "\u2193",
      "harr" -> "\u2194", "ensp" -> "\u2002", "emsp" -> "\u2003",
      "thinsp" -> "\u2009", "zwnj" -> "\u200c", "zwj" -> "\u200d",
      "lrm" -> "\u200e", "rlm" -> "\u200f")
    m.result()
  }

  /** The reference's inline-element set (`HTMLStripCharFilter.jflex:117-142`,
    * `InlineElment`): these strip SILENTLY; every other element is replaced
    * by `'\n'` (`BLOCK_LEVEL_*_TAG_REPLACEMENT`, `HTMLStripCharFilter.java:5234`). */
  private val inlineElements = Set(
    "a", "b", "i", "q", "s", "u", "abbr", "acronym", "basefont", "bdo",
    "big", "cite", "code", "dfn", "em", "font", "img", "input", "kbd",
    "label", "samp", "select", "small", "span", "strike", "strong", "sub",
    "sup", "textarea", "tt", "var")

  def apply(html: String): String = {
    val out = new java.lang.StringBuilder(html.length)
    val n = html.length
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val close = html.indexOf("-->", i + 4)
          i = if (close < 0) n else close + 3
        } else if (startsWithIgnoreCase(html, i + 1, "script") || startsWithIgnoreCase(html, i + 1, "style")) {
          val tag = if (startsWithIgnoreCase(html, i + 1, "script")) "script" else "style"
          val close = indexOfIgnoreCase(html, "</" + tag, i)
          i = if (close < 0) n else {
            val gt = html.indexOf('>', close)
            if (gt < 0) n else gt + 1
          }
        } else {
          val close = html.indexOf('>', i)
          i = if (close < 0) n else close + 1
        }
      } else if (c == '&') {
        val semi = html.indexOf(';', i)
        if (semi > i && semi - i <= 10) {
          decodeEntity(html.substring(i + 1, semi)) match {
            case Some(s) => out.append(s); i = semi + 1
            case None    => out.append(c); i += 1
          }
        } else { out.append(c); i += 1 }
      } else {
        out.append(c)
        i += 1
      }
    }
    out.toString
  }

  /** Reference-fidelity strip mode — `HTMLStripCharFilter`'s documented
    * output shape (`HTMLStripCharFilter.jflex`): inline elements
    * ([[inlineElements]]) strip silently, every OTHER element (open, close
    * or self-closing) is replaced by `'\n'`, script/style bodies collapse
    * to one `'\n'`, comments and `<! … >` declarations strip to nothing,
    * and tag scanning is QUOTE-AWARE (a `>` inside a quoted attribute value
    * does not end the tag — the server-side-include vectors). Entity
    * decoding is shared with [[apply]].
    *
    * [[apply]] stays the corpus-contract mode (all tags strip silently):
    * the synthetic webtext invariant is `strip(html) == text` byte-exact,
    * and its `<p>`-wrapped bodies must not grow newlines. Divergences from
    * the generated DFA (script bodies containing a quoted `</script>`,
    * interleaved malformed tags) are quantified in HtmlFidelitySpec. */
  def lucene(html: String): String = {
    val out = new java.lang.StringBuilder(html.length)
    val n = html.length
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val close = html.indexOf("-->", i + 4)
          i = if (close < 0) n else close + 3
        } else if (i + 1 < n && (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
          // declaration / processing instruction: strip to nothing
          val close = html.indexOf('>', i)
          i = if (close < 0) n else close + 1
        } else if (startsWithIgnoreCase(html, i + 1, "script") || startsWithIgnoreCase(html, i + 1, "style")) {
          val tag = if (startsWithIgnoreCase(html, i + 1, "script")) "script" else "style"
          val close = indexOfIgnoreCase(html, "</" + tag, i)
          i = if (close < 0) n else {
            val gt = html.indexOf('>', close)
            if (gt < 0) n else gt + 1
          }
          out.append('\n') // the whole element collapses to one newline
        } else {
          // tag name: letters/digits after optional '/'
          var j = i + 1
          val closing = j < n && html.charAt(j) == '/'
          if (closing) j += 1
          val nameStart = j
          while (j < n && Character.isLetterOrDigit(html.charAt(j))) j += 1
          val name = html.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          // quote-aware scan to the tag's real end
          var quote: Char = 0
          var k = j
          var end = -1
          while (end < 0 && k < n) {
            val ch = html.charAt(k)
            if (quote != 0) { if (ch == quote) quote = 0 }
            else if (ch == '"' || ch == '\'') quote = ch
            else if (ch == '>') end = k
            k += 1
          }
          if (name.isEmpty || end < 0) { out.append(c); i += 1 } // not a tag: literal '<'
          else {
            if (!inlineElements.contains(name)) out.append('\n')
            i = end + 1
          }
        }
      } else if (c == '&') {
        val semi = html.indexOf(';', i)
        if (semi > i && semi - i <= 10) {
          decodeEntity(html.substring(i + 1, semi)) match {
            case Some(s) => out.append(s); i = semi + 1
            case None    => out.append(c); i += 1
          }
        } else { out.append(c); i += 1 }
      } else {
        out.append(c)
        i += 1
      }
    }
    out.toString
  }

  private[core] def decodeEntity(name: String): Option[String] =
    if (name.startsWith("#x") || name.startsWith("#X"))
      try Some(new String(Character.toChars(Integer.parseInt(name.substring(2), 16))))
      catch { case _: Exception => None }
    else if (name.startsWith("#"))
      try Some(new String(Character.toChars(Integer.parseInt(name.substring(1)))))
      catch { case _: Exception => None }
    else entities.get(name)

  private def startsWithIgnoreCase(s: String, off: Int, prefix: String): Boolean =
    s.regionMatches(true, off, prefix, 0, prefix.length)

  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    var i = from
    val max = s.length - needle.length
    while (i <= max) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }
}

/** Unicode→ASCII folding — the shape of the reference's `ASCIIFoldingFilter`
  * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/miscellaneous/ASCIIFoldingFilter.java:74`):
  * accented Latin characters fold to their ASCII base. The reference carries
  * a generated 3,000-case switch; this uses the standard public technique —
  * NFD canonical decomposition + combining-mark strip — plus the handful of
  * Latin ligatures/special letters NFD does not decompose. Applied AFTER the
  * inner analyzer so positions are inherited unchanged. */
final case class AsciiFoldingAnalyzer(inner: Analyzer = SimpleUnicodeAnalyzer)
    extends Analyzer {
  override val name = "folding"
  override def tokenize(text: String): IndexedSeq[Token] =
    inner.tokenize(text).map(t => Token(AsciiFolding.fold(t.term), t.position))
}

object AsciiFolding {
  private val Specials = Map(
    'æ' -> "ae", 'Æ' -> "AE", 'œ' -> "oe", 'Œ' -> "OE", 'ß' -> "ss",
    'ø' -> "o", 'Ø' -> "O", 'đ' -> "d", 'Đ' -> "D", 'ł' -> "l", 'Ł' -> "L",
    'þ' -> "th", 'Þ' -> "TH", 'ð' -> "d", 'Ð' -> "D", 'ħ' -> "h", 'Ħ' -> "H")

  def fold(s: String): String = {
    val pre = {
      val b = new StringBuilder(s.length)
      s.foreach(c => Specials.get(c) match {
        case Some(r) => b.append(r)
        case None => b.append(c)
      })
      b.toString
    }
    val decomposed = java.text.Normalizer.normalize(pre, java.text.Normalizer.Form.NFD)
    val out = new StringBuilder(decomposed.length)
    decomposed.foreach { c =>
      if (Character.getType(c) != Character.NON_SPACING_MARK) out.append(c)
    }
    out.toString
  }
}

/** Lowercased maximal letter/digit runs over the FULL Unicode alphabet (the
  * folding chain needs non-ASCII letters to survive tokenization, which
  * [[SimpleAnalyzer]]'s ASCII-only runs would drop). */
/** [[SimpleUnicodeAnalyzer]]'s token stream plus apostrophe-attachment: the
  * callback's third argument is true when the char immediately after the
  * token in the source is an apostrophe (' or ’) — the precondition of the
  * reference's `ElisionFilter` (`ElisionFilter.java:63` strips only
  * apostrophe-attached articles like l'arte; a standalone article token is
  * left for the stop filter, which preserves position increments). */
private[core] object ElisionTokens {
  def foreach(text: String)(f: (String, Int, Boolean) => Unit): Unit = {
    val lower = text.toLowerCase
    val n = lower.length
    var i = 0
    var pos = 0
    while (i < n) {
      if (Character.isLetterOrDigit(lower.charAt(i))) {
        val start = i
        while (i < n && Character.isLetterOrDigit(lower.charAt(i))) i += 1
        val apos = i < n && (lower.charAt(i) == '\'' || lower.charAt(i) == '’')
        f(lower.substring(start, i), pos, apos)
        pos += 1
      } else i += 1
    }
  }
}

object SimpleUnicodeAnalyzer extends Analyzer {
  override val name = "simple-unicode"
  override def tokenize(text: String): IndexedSeq[Token] = {
    val lower = text.toLowerCase
    val out = Vector.newBuilder[Token]
    val n = lower.length
    var i = 0
    var pos = 0
    while (i < n) {
      if (Character.isLetterOrDigit(lower.charAt(i))) {
        val start = i
        while (i < n && Character.isLetterOrDigit(lower.charAt(i))) i += 1
        out += Token(lower.substring(start, i), pos)
        pos += 1
      } else i += 1
    }
    out.result()
  }
}

/** Index-time token n-grams — the reference's `ShingleFilter`
  * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/shingle/ShingleFilter.java:42`)
  * with `outputUnigrams=false` and a single shingle size: each emitted term
  * is `size` consecutive inner tokens joined by one space, positioned at its
  * first member's position. Doc length becomes the shingle count, making
  * per-doc statistics well-defined for scoring over the shingle vocabulary. */
final case class ShingleAnalyzer(inner: Analyzer, size: Int) extends Analyzer {
  require(size >= 2, "shingle size must be >= 2")
  override val name = s"shingle-$size"
  override def tokenize(text: String): IndexedSeq[Token] = {
    val ts = inner.tokenize(text)
    // shingles only span ADJACENT positions (a stop-filtered gap breaks the
    // window, like the reference's position-increment handling)
    (0 to ts.length - size).iterator.flatMap { i =>
      if (ts(i + size - 1).position - ts(i).position == size - 1)
        Some(Token(ts.slice(i, i + size).map(_.term).mkString(" "), ts(i).position))
      else None
    }.toVector.zipWithIndex.map { case (t, dense) => Token(t.term, dense) }
  }
}

/** Character n-grams of each inner token — the reference's `NGramTokenFilter`
  * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/ngram/NGramTokenFilter.java:48`):
  * every gram of length `minGram..maxGram` per token, all at the token's
  * position (position increment 0 within a token). */
final case class NGramAnalyzer(inner: Analyzer = SimpleAnalyzer,
                               minGram: Int = 2, maxGram: Int = 3) extends Analyzer {
  require(minGram >= 1 && maxGram >= minGram)
  override val name = s"ngram-$minGram-$maxGram"
  override def tokenize(text: String): IndexedSeq[Token] =
    inner.tokenize(text).flatMap { t =>
      for {
        len <- minGram to math.min(maxGram, t.term.length)
        start <- 0 to t.term.length - len
      } yield Token(t.term.substring(start, start + len), t.position)
    }
}
