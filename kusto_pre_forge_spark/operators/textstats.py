"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

BASELINE.json north-star extensions (not in the reference surface). All are
narrow per-row column expressions — no shuffle, no UDF; they run inside
WholeStageCodegen and scale linearly with the scan.

Determinism/oracle: token rules are plain regexes; the fingerprint hash is
md5-derived so the DuckDB oracle can replay it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kusto_pre_forge_spark.operators.iterate import iterate

TOKEN_RE = r"\s+"
#: BPE-ish word/number/punctuation splitter (GPT-2-style coarse classes):
#: runs of letters, runs of digits, or single non-space punctuation.
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def tokens(col: Column | str, pattern: str = TOKEN_RE) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), pattern), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish token count: number of regex token matches (letters run /
    digits run / single punctuation). A cheap, deterministic proxy for a
    real BPE vocab size estimate."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_RE), 0))


#: small stop-word lists per language. Language ID itself moved to the
#: character-trigram profiles below (LANG_TRIGRAMS); these word lists
#: remain the stopword_ratio feature's vocabulary (quality_features).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "avec"],
}


#: character-trigram frequency profiles (Cavnar & Trenkle 1994 "N-Gram-Based
#: Text Categorization" — the TextCat/CLD lineage): per language, the most
#: characteristic trigrams over space-padded lowercase text, MOST frequent
#: first. Rank weights (len-i) make distinctive grams count more. Profiles
#: are distilled from public frequency knowledge of each language; swap in
#: corpus-trained tables for production coverage. Unlike the old marker-WORD
#: heuristic these fire on sub-word morphology ('sch', 'ció', 'aux'), so
#: short texts with no stopwords still classify.
LANG_TRIGRAMS: dict[str, list[str]] = {
    "en": [
        " th", "the", "he ", "ed ", " an", "and", "nd ", "ing", "ng ",
        " of", "of ", " to", "to ", "er ", " in", "in ", "ion", "tio",
        "ati", "at ", "es ", " re", "is ", " is", "on ", "ent", " be",
        "e t", "as ", "or ", " he", "ere", " co", "hat", " wh", "ver",
        "all", " no", "his", "ith",
    ],
    "de": [
        "en ", "er ", " de", "der", "ie ", "ich", "ch ", "sch", "che",
        "die", " di", "und", " un", "nd ", "ein", " ei", "ung", "ng ",
        "cht", "ht ", "ten", " ge", "gen", " zu", "das", " da", "as ",
        "ber", "ter", "st ", "ist", " is", "den", "ne ", "it ", "mit",
        " mi", "auf", " au", "eit",
    ],
    "es": [
        " de", "de ", "os ", " la", "la ", "el ", " el", "ión", "ció",
        "aci", " co", "con", "es ", " es", "as ", "en ", " en", "que",
        " qu", "ue ", "ent", "nte", "ado", "do ", "ar ", " se", "los",
        " lo", "par", " pa", "ra ", "por", " po", "un ", " un", "dad",
        "ida", "ien", "cia", "sta",
    ],
    "fr": [
        " de", "de ", "es ", "ent", "le ", " le", "nt ", "la ", " la",
        "ion", "on ", "e d", " pa", "tio", "que", " qu", "ue ", "re ",
        " co", "les", "eur", "our", "aux", "eau", "au ", " po", "ait",
        "ais", "ur ", "ant", "et ", " et", "ons", " so", "dan", " da",
        "ans", "men", "une", "oir",
    ],
    "it": [
        "di ", " di", "la ", " la", "to ", "re ", " co", "con", "ion",
        "one", "ne ", "ent", "nte", "te ", "che", " ch", "he ", "per",
        " pe", "er ", "del", "ell", "lla", " de", "are", "ato", "no ",
        " no", "gli", " gl", "li ", "zio", "azi", " si", "si ", "men",
        "nto", "ità", "tà ", " un",
    ],
    "pt": [
        " de", "de ", "os ", " co", "ção", "açã", "ão ", "com", "es ",
        " es", "da ", " da", "do ", " do", "que", " qu", "ue ", "ent",
        "nte", "ar ", "em ", " em", "ra ", "par", " pa", "as ", " se",
        "men", "ada", "ado", "ist", " um", "uma", "res", "ais", "eir",
        "ira", "nto", "to ", "or ",
    ],
    "nl": [
        "en ", "de ", " de", "het", " he", "et ", "van", " va", "an ",
        "n d", "er ", "een", " ee", "ijn", "ij ", " ge", "ing", "ng ",
        " en", "ver", " ve", "oor", " vo", "der", "ere", "ten", "nde",
        "den", "dat", " da", "at ", "te ", " te", "sch", " zi", "ijk",
        "ond", " on", "aar", "eer",
    ],
    "sv": [
        "en ", "et ", "det", " de", "att", " at", "tt ", "ar ", "som",
        " so", "om ", "för", " fö", "ör ", "och", " oc", "ch ", "er ",
        "til", " ti", "ll ", "and", "nd ", "har", " ha", "ing", "ng ",
        "ter", "med", " me", "ed ", "den", "ade", " sk", " st", "rna",
        "na ", " är", "är ", "int",
    ],
    "da": [
        "er ", "en ", "det", " de", "der", " og", "og ", " at", "at ",
        "til", " ti", "il ", "ed ", "med", " me", "nde", "for", " fo",
        "or ", "har", " ha", "ar ", "lig", "ige", "ig ", "sig", " si",
        " er", "ere", "re ", "ikk", "kke", "ke ", " ik", "den", "nd ",
        "et ", "end", "de ", "ler",
    ],
    "pl": [
        "ie ", "nie", " ni", " po", "na ", " na", "ch ", "ych", " pr",
        "prz", "rze", "ego", "go ", "ej ", " je", "jes", "się", " si",
        "ię ", "owa", "ani", "nia", "ia ", "do ", " do", "ci ", "ści",
        "ość", " za", "wie", " wi", "cze", " cz", "dzi", " dz", "ać ",
        "ał ", "owi", "ki ", "ów ",
    ],
    "cs": [
        " pr", "pro", " po", "ní ", "ně ", "ou ", " ne", "se ", " se",
        " na", "na ", "je ", " je", "ch ", "ého", "ho ", " do", " st",
        "sta", "ení", "ání", " za", "pří", "ří ", "ost", "ti ", " to",
        "to ", "em ", "ce ", "ova", "vat", " by", "byl", "la ", "ky ",
        "ých", " ve", "ist", "lo ",
    ],
    "ro": [
        " de", "de ", " în", "în ", "ul ", "le ", " co", "con", "are",
        "re ", " ca", "ea ", " pe", "pen", "ntr", "tru", "ru ", "at ",
        "ate", "lor", "or ", "ui ", "lui", " al", "ale", "ste", " es",
        "est", "te ", "ii ", " di", "din", "in ", "ați", "ție", "ent",
        "men", "tat", "ere", "rea",
    ],
    "tr": [
        "lar", "ler", "ar ", "er ", "bir", " bi", "ir ", " ve", "ve ",
        "an ", "in ", "ın ", "en ", " ka", " ol", "ola", "lan", "ını",
        "nın", "arı", "rı ", "da ", "de ", "nda", "nde", " bu", "bu ",
        "un ", "ile", " il", "le ", "si ", "ası", "esi", "yor", "or ",
        " ya", " sa", "dır", "ık ",
    ],
    "id": [
        " me", "men", "an ", "kan", " ke", "ang", "ng ", " di", "di ",
        "dan", " da", " pe", "per", "ada", " pa", "pad", "lah", "ah ",
        "nya", "ya ", "yan", " ya", "ber", " be", "ter", " te", "ata",
        " se", "ari", "dar", "ia ", "ini", " in", "asi", "si ", "ung",
        "eng", "gan", "ala", "aan",
    ],
    "hu": [
        " a ", " az", "az ", "el ", " el", "en ", "et ", "meg", " me",
        "ek ", "ett", "tt ", " sz", "sze", "szt", "és ", " és", "ség",
        "nek", "ben", " be", "hog", "ogy", "gy ", " ho", "nak", "tás",
        "ás ", "ság", "att", " fe", "fel", "ele", "let", " ki", "int",
        " mi", "min", "tel", "ány",
    ],
    "fi": [
        "en ", "in ", " on", "on ", "ist", "sta", "ta ", " ja", "ja ",
        "an ", "aan", " ka", "lla", "la ", "ssa", "sa ", " va", "itt",
        "ttä", "tä ", "ään", "än ", "een", "ksi", "si ", "ell", "lle",
        "le ", "sen", " se", "iin", " tu", "taa", "aa ", "ten", "nen",
        "ine", "ais", "uks", " pä",
    ],
    "vi": [
        " và", "và ", " củ", "của", "ủa ", " là", "là ", " có", "có ",
        " kh", "khô", "hôn", "ông", "ng ", " ng", "ngư", "gườ", "ười",
        "ời ", " tr", "tro", "ron", "ong", " đư", "đượ", "ược", "ợc ",
        " mộ", "một", "ột ", " nh", "như", "ững", " nà", "này", "ày ",
        " ch", "cho", "ho ", " đã",
    ],
}

#: Cyrillic-script trigram profiles — scored only when the script gate
#: (SCRIPT_RANGES majority vote) lands on Cyrillic; same rank-weight
#: scheme and normalizer pipeline as the Latin family.
CYRILLIC_TRIGRAMS: dict[str, list[str]] = {
    "ru": [
        " пр", "про", " по", "по ", " на", "на ", "ого", "го ", "ени",
        "ния", "ие ", "ия ", " не", "не ", "ть ", "ать", " ко", "ост",
        "ств", "тво", " ст", "ста", "ом ", "ов ", " от", "от ", "ли ",
        "ет ", " со", "ой ", "ый ", " за", "что", " чт", "то ", "сть",
        "ров", "ние", "при", "ели",
    ],
    "uk": [
        " пр", "про", " на", "на ", "ння", "ня ", " не", "не ", "ого",
        "го ", " за", "за ", "ть ", "ати", "ють", " по", "по ", "ів ",
        " ві", "від", " що", "що ", "енн", " та", "та ", "ься", "ся ",
        " до", "до ", "ний", "ій ", "ої ", " з ", "их ", "ими", "ми ",
        "ові", "ува", "льн", "ько",
    ],
}

#: letters kept by the language-ID normalizer — everything else collapses
#: to a single space (word-boundary padding then produces boundary grams).
#: The Latin class covers every diacritic the 16 Latin profiles use.
LANGID_CHARCLASS = (
    "a-zàáâäãåæçèéêëìíîïñòóôöõøùúûüýß"
    "ąćęłńśźżčďěňřšťůžășțşţğıőű"
    # Vietnamese: horn vowels ơ/ư, breve ă, đ, and the tone-marked set
    "ơưăđạảắằẳẵặấầẩẫậẹẻẽếềểễệỉịọỏốồổỗộớờởỡợụủứừửữựỳỵỷỹ"
)
CYRILLIC_CHARCLASS = "а-яёіїєґ"

#: Unicode codepoint ranges per script family (inclusive), applied to
#: LOWERCASED text — the charset gate that decides which profile family
#: scores a row (Latin text never pays for Cyrillic scoring and vice
#: versa) and that labels the block-exclusive scripts directly
#: (zh/ja/ko/el/ar/he/hi/th need no trigram evidence: the script IS the
#: language signal at this granularity). Shared with the SQL oracle
#: generator, which emits the same ranges as RE2 classes.
SCRIPT_RANGES: dict[str, tuple[tuple[int, int], ...]] = {
    "latin": ((0x41, 0x5A), (0x61, 0x7A), (0xC0, 0xD6), (0xD8, 0xF6),
              (0xF8, 0x24F)),
    "cyrillic": ((0x400, 0x4FF), (0x500, 0x52F)),
    "greek": ((0x370, 0x3FF), (0x1F00, 0x1FFF)),
    "arabic": ((0x600, 0x6FF), (0x750, 0x77F)),
    "hebrew": ((0x590, 0x5FF),),
    "devanagari": ((0x900, 0x97F),),
    "thai": ((0xE00, 0xE7F),),
    "hangul": ((0xAC00, 0xD7A3), (0x1100, 0x11FF), (0x3130, 0x318F)),
    "hiragana": ((0x3040, 0x309F),),
    "katakana": ((0x30A0, 0x30FF),),
    "han": ((0x4E00, 0x9FFF), (0x3400, 0x4DBF), (0xF900, 0xFAFF)),
}

#: block-exclusive script → language label, in GATE ORDER (evaluated
#: after the ja/ko/zh CJK rules, before the Latin default). The order is
#: part of the contract — the SQL oracle emits the same CASE chain.
SCRIPT_DIRECT_LANGS: tuple[tuple[str, str], ...] = (
    ("greek", "el"),
    ("arabic", "ar"),
    ("hebrew", "he"),
    ("devanagari", "hi"),
    ("thai", "th"),
)


# Labeled evaluation corpus for the language-ID harness (measure, don't
# guess — the lsh_candidate_recall precedent applied to the engine's most
# guess-driven heuristic). Three tiers per the harness contract:
# "long" — full sentences where the 25 profiles SHOULD all win (the pinned
# 100% tier; a profile edit that breaks one fails the regression net);
# "short" — 6-9 word sentences where trigram evidence is thin and real
# confusions appear (Romance/Slavic near-neighbors — the tier the harness
# exists to quantify); "adversarial" — digits-only, empty, NULL, and
# single stopword-free words. One source of truth: the Spark query, the
# SQL oracle's VALUES list, and the pytest pins all render from this
# constant, so the measured numbers cannot drift between engines.
LANGID_EVAL_FIXTURE: tuple[tuple[str, str, str | None], ...] = (
    ("cs", "long", "Dnes je krásný den a půjdeme se projít do města, protože svítí slunce a všichni jsou šťastní."),
    ("da", "long", "I dag er det en smuk dag, og vi skal gå en tur i byen, fordi solen skinner og alle er glade."),
    ("de", "long", "Heute ist ein schöner Tag und wir werden durch die Stadt spazieren, weil die Sonne scheint."),
    ("en", "long", "Today is a beautiful day and we are going to walk through the city because the sun is shining."),
    ("es", "long", "Hoy es un día hermoso y vamos a caminar por la ciudad porque el sol está brillando y todos están felices."),
    ("fi", "long", "Tänään on kaunis päivä ja menemme kävelylle kaupunkiin, koska aurinko paistaa ja kaikki ovat iloisia."),
    ("fr", "long", "Aujourd'hui est une belle journée et nous allons nous promener dans la ville parce que le soleil brille."),
    ("hu", "long", "Ma gyönyörű nap van, és sétálni megyünk a városba, mert süt a nap és mindenki boldog."),
    ("id", "long", "Hari ini adalah hari yang indah dan kita akan berjalan-jalan di kota karena matahari bersinar."),
    ("it", "long", "Oggi è una bella giornata e andremo a passeggiare per la città perché il sole splende e tutti sono felici."),
    ("nl", "long", "Vandaag is het een mooie dag en we gaan wandelen door de stad omdat de zon schijnt en iedereen blij is."),
    ("pl", "long", "Dzisiaj jest piękny dzień i pójdziemy na spacer do miasta, ponieważ świeci słońce i wszyscy są szczęśliwi."),
    ("pt", "long", "Hoje é um dia bonito e vamos caminhar pela cidade porque o sol está brilhando e todos estão felizes."),
    ("ro", "long", "Astăzi este o zi frumoasă și vom merge la plimbare prin oraș pentru că soarele strălucește."),
    ("sv", "long", "Idag är det en vacker dag och vi ska gå en promenad i staden eftersom solen skiner och alla är glada."),
    ("tr", "long", "Bugün güzel bir gün ve güneş parladığı için şehirde yürüyüşe çıkacağız, herkes mutlu."),
    ("vi", "long", "Hôm nay là một ngày đẹp trời và chúng ta sẽ đi dạo quanh thành phố vì mặt trời đang tỏa sáng."),
    ("ru", "long", "Сегодня прекрасный день, и мы пойдём гулять по городу, потому что светит солнце и все счастливы."),
    ("uk", "long", "Сьогодні чудовий день, і ми підемо гуляти містом, тому що світить сонце і всі щасливі."),
    ("el", "long", "Σήμερα είναι μια όμορφη μέρα και θα περπατήσουμε στην πόλη επειδή ο ήλιος λάμπει."),
    ("ar", "long", "اليوم يوم جميل وسوف نتمشى في المدينة لأن الشمس مشرقة والجميع سعداء."),
    ("he", "long", "היום הוא יום יפה ואנחנו הולכים לטייל בעיר כי השמש זורחת וכולם שמחים."),
    ("hi", "long", "आज एक सुंदर दिन है और हम शहर में टहलने जाएंगे क्योंकि सूरज चमक रहा है और सभी खुश हैं।"),
    ("th", "long", "วันนี้เป็นวันที่สวยงามและเราจะไปเดินเล่นในเมืองเพราะแสงแดดส่องสว่างและทุกคนมีความสุข"),
    ("ja", "long", "今日はとても良い天気なので、街を散歩しに行きます。みんなが幸せです。"),
    ("ko", "long", "오늘은 날씨가 좋아서 우리는 도시를 산책하러 갈 것입니다. 모두가 행복합니다."),
    ("zh", "long", "今天天气很好，我们要去城里散步，因为阳光明媚，大家都很开心。"),
    ("cs", "short", "to je velmi dobrý nápad, děkuji"),
    ("da", "short", "det er en rigtig god idé, tak"),
    ("de", "short", "das ist eine sehr gute Idee, danke"),
    ("en", "short", "that is a very good idea, thank you"),
    ("es", "short", "esa es una muy buena idea, gracias"),
    ("fi", "short", "se on todella hyvä idea, kiitos"),
    ("fr", "short", "c'est une très bonne idée, merci"),
    ("hu", "short", "ez egy nagyon jó ötlet, köszönöm"),
    ("id", "short", "itu ide yang sangat bagus, terima kasih"),
    ("it", "short", "questa è un'ottima idea, grazie"),
    ("nl", "short", "dat is een heel goed idee, dank je"),
    ("pl", "short", "to jest bardzo dobry pomysł, dziękuję"),
    ("pt", "short", "essa é uma ideia muito boa, obrigado"),
    ("ro", "short", "aceasta este o idee foarte bună, mulțumesc"),
    ("sv", "short", "det är en mycket bra idé, tack"),
    ("tr", "short", "bu çok iyi bir fikir, teşekkürler"),
    ("vi", "short", "đó là một ý tưởng rất hay, cảm ơn"),
    ("ru", "short", "это очень хорошая идея, спасибо вам"),
    ("uk", "short", "це дуже гарна ідея, дякую вам"),
    ("el", "short", "αυτή είναι μια πολύ καλή ιδέα, ευχαριστώ"),
    ("ar", "short", "هذه فكرة جيدة جدا شكرا لك"),
    ("he", "short", "זה רעיון טוב מאוד תודה לך"),
    ("hi", "short", "यह बहुत अच्छा विचार है धन्यवाद"),
    ("th", "short", "นั่นเป็นความคิดที่ดีมากขอบคุณ"),
    ("ja", "short", "それはとても良い考えですね"),
    ("ko", "short", "그것은 정말 좋은 생각입니다"),
    ("zh", "short", "这是一个非常好的主意，谢谢"),
    ("und", "adversarial", "12345 67890 --- !!!"),
    ("und", "adversarial", ""),
    ("und", "adversarial", None),
    ("en", "adversarial", "internationalization"),
    ("de", "adversarial", "Donaudampfschifffahrtsgesellschaft"),
    ("es", "adversarial", "otorrinolaringología"),
)


def langid_eval(
    df: DataFrame, text_col: str, label_col: str
) -> DataFrame:
    """Per-language precision/recall over a LABELED corpus — the
    measure-don't-guess harness (the ``lsh_candidate_recall`` /
    ``hamming_candidate_recall`` precedent) applied to :func:`lang_id`.
    For each language appearing as a true label OR a prediction:
    n_true, n_pred, n_correct (pred == label), prec = n_correct/n_pred
    (NULL when never predicted), recall = n_correct/n_true (NULL when
    never true), both rounded to 6 (the round-before-compare contract).

    Plan: one Arrow scan stage scores every row, then two
    map-side-combined aggregates (per-true-label and per-prediction)
    full-outer-join on the language key — label-cardinality-sized
    frames, never corpus-sized."""
    pred = df.select(
        F.col(label_col).alias("_true"), lang_id(F.col(text_col)).alias("_pred")
    )
    t = pred.groupBy(F.col("_true").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.count(F.when(F.col("_pred") == F.col("_true"), 1))
        .cast("long")
        .alias("n_correct"),
    )
    p = pred.groupBy(F.col("_pred").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pred")
    )
    j = t.join(p, "lang", "full_outer")
    n_true = F.coalesce(F.col("n_true"), F.lit(0)).cast("long")
    n_pred = F.coalesce(F.col("n_pred"), F.lit(0)).cast("long")
    n_correct = F.coalesce(F.col("n_correct"), F.lit(0)).cast("long")
    return j.select(
        "lang",
        n_true.alias("n_true"),
        n_pred.alias("n_pred"),
        n_correct.alias("n_correct"),
        F.when(
            n_pred > 0, F.round(n_correct.cast("double") / n_pred, 6)
        ).alias("prec"),
        F.when(
            n_true > 0, F.round(n_correct.cast("double") / n_true, 6)
        ).alias("recall"),
    )


def _validate_profiles() -> None:
    for fam, (profiles, charclass) in {
        "latin": (LANG_TRIGRAMS, LANGID_CHARCLASS),
        "cyrillic": (CYRILLIC_TRIGRAMS, CYRILLIC_CHARCLASS),
    }.items():
        alphabet = set(" ")
        i = 0
        while i < len(charclass):
            if i + 2 < len(charclass) and charclass[i + 1] == "-":
                alphabet.update(
                    chr(c)
                    for c in range(ord(charclass[i]), ord(charclass[i + 2]) + 1)
                )
                i += 3
            else:
                alphabet.add(charclass[i])
                i += 1
        for lang, prof in profiles.items():
            assert len(prof) == len(set(prof)), f"dup gram in {lang}"
            for g in prof:
                assert len(g) == 3, f"{fam}/{lang}: {g!r} not a trigram"
                assert set(g) <= alphabet, (
                    f"{fam}/{lang}: {g!r} outside the normalizer alphabet"
                )


_validate_profiles()


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """All overlapping character n-grams as an array — pure expressions
    (sequence + substr), no explode, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - (n - 1)),
        lambda i: c.substr(i, F.lit(n)),
    )
    return F.when(F.length(c) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _bind_once(value: Column, fn) -> Column:
    """Evaluate ``fn(var)`` with ``var`` bound to ``value`` computed
    EXACTLY once: a 1-element ``transform`` lambda. The codegen CSE does
    not merge the hundreds of textual copies a big expression would
    otherwise make of ``value`` (measured: the langid normalizer ran
    once per replace-term, 320×/row); a lambda variable is a single
    slot by construction."""
    return F.element_at(F.transform(F.array(value), fn), 1)


# ---------------------------------------------------------------------------
# Vectorized trigram scoring engine (numpy, Arrow-batched)
#
# At 4 languages the replace-count expression fold (160 one-pass string
# scans per row) was the measured-fastest plan; at the 18-profile coverage
# a multilingual crawl needs (~700 grams) it scales linearly in GRAMS. This
# engine scales in TEXT length instead: per Arrow batch, every row's
# normalized text is concatenated (NUL-fenced), each codepoint window
# becomes one int64 trigram code, one np.searchsorted against the compiled
# profile codes finds hits, and one scatter-add accumulates rank-weighted
# scores per (row, language). Counts are OVERLAPPING occurrences — the
# textbook Cavnar–Trenkle statistic (every text position votes), replayed
# exactly by the oracle's unnest-positions + weight-table join.


def _tri_code(g: str) -> int:
    k = 0x110000  # one past the Unicode codepoint space
    return (ord(g[0]) * k + ord(g[1])) * k + ord(g[2])


def _compile_family(profiles: dict[str, list[str]]):
    """(langs, sorted trigram codes, weight matrix W[gram, lang])."""
    import numpy as np

    langs = sorted(profiles)
    grams = sorted({g for p in profiles.values() for g in p})
    codes = np.array([_tri_code(g) for g in grams], dtype=np.int64)
    order = np.argsort(codes)
    codes = codes[order]
    pos_of = {grams[int(j)]: i for i, j in enumerate(order)}
    W = np.zeros((len(grams), len(langs)), dtype=np.int64)
    for li, lang in enumerate(langs):
        prof = profiles[lang]
        for rank, g in enumerate(prof):
            W[pos_of[g], li] += len(prof) - rank
    return langs, codes, W


def _family_scores(norm_texts, codes, W):
    """Score a batch: list of normalized strings → int64 matrix
    (n_rows, n_langs) of rank-weighted overlapping trigram counts."""
    import numpy as np

    n = len(norm_texts)
    out = np.zeros((n, W.shape[1]), dtype=np.int64)
    if n == 0:
        return out
    # two NUL fences between rows: any window crossing a row boundary
    # contains a NUL and no profile gram does, so it can never match
    joined = "\x00\x00".join(norm_texts)
    cp = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4").astype(
        np.int64
    )
    if cp.size < 3:
        return out
    k = 0x110000
    tri = (cp[:-2] * k + cp[1:-1]) * k + cp[2:]
    pos = np.searchsorted(codes, tri)
    pos_c = np.minimum(pos, len(codes) - 1)
    hit = codes[pos_c] == tri
    if not hit.any():
        return out
    lens = np.array([len(s) for s in norm_texts], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens + 2)))[:-1]
    rows = np.searchsorted(starts, np.nonzero(hit)[0], side="right") - 1
    np.add.at(out, rows, W[pos_c[hit]])
    return out


def _norm_py(text, charclass: str):
    """Python twin of the SQL normalizer: lower → non-alphabet runs to
    one space → trim → pad. Returns ' ' (no grams) for NULL/empty."""
    import re

    if text is None or not isinstance(text, str):
        return " "
    squashed = re.sub(f"[^{charclass}]+", " ", text.lower()).strip()
    return f" {squashed} "


def _script_count_batch(texts, ranges):
    """Per-row count of lowercased codepoints inside ``ranges``."""
    import numpy as np

    n = len(texts)
    lowered = [t.lower() if isinstance(t, str) else "" for t in texts]
    joined = "\x00".join(lowered)
    cp = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4").astype(
        np.int64
    )
    # ranges must be ascending for the even/odd searchsorted trick
    bounds = np.array(
        [b for lo, hi in sorted(ranges) for b in (lo, hi + 1)],
        dtype=np.int64,
    )
    inside = (np.searchsorted(bounds, cp, side="right") % 2) == 1
    lens = np.array([len(s) for s in lowered], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens + 1)))[:-1]
    out = np.zeros(n, dtype=np.int64)
    idx = np.nonzero(inside)[0]
    if idx.size:
        rows = np.searchsorted(starts, idx, side="right") - 1
        np.add.at(out, rows, 1)
    return out


def _langid_batch(texts) -> list:
    """The full gate + score pipeline for one batch of raw texts.
    MUST stay in lockstep with the SQL chain the oracle generator emits
    (__spark_entry__._langid_ctes): same script ranges, same 2·x ≥ total
    majority thresholds, same gate order, same tie-breaks."""
    import numpy as np

    sc = {
        fam: _script_count_batch(texts, SCRIPT_RANGES[fam])
        for fam in SCRIPT_RANGES
    }
    total = np.sum(np.stack(list(sc.values())), axis=0)
    kana = sc["hiragana"] + sc["katakana"]

    lat_langs, lat_codes, lat_W = _compile_family(LANG_TRIGRAMS)
    cyr_langs, cyr_codes, cyr_W = _compile_family(CYRILLIC_TRIGRAMS)

    # resolve every row's gate first, then batch-score each trigram
    # family ONCE over exactly the rows it gates to — no per-row numpy
    # calls (the whole point of the vectorized scorer)
    gates = []
    for i in range(len(texts)):
        t = int(total[i])
        if t == 0:
            gates.append("und")
        elif kana[i] >= 1 and 2 * (kana[i] + sc["han"][i]) >= t:
            gates.append("ja")
        elif 2 * sc["hangul"][i] >= t:
            gates.append("ko")
        elif 2 * sc["han"][i] >= t:
            gates.append("zh")
        elif 2 * sc["cyrillic"][i] >= t:
            gates.append("_cyr")
        else:
            gates.append(
                next(
                    (
                        lang
                        for fam, lang in SCRIPT_DIRECT_LANGS
                        if 2 * sc[fam][i] >= t
                    ),
                    "_lat",
                )
            )

    def batch_pick(idx, langs, codes, W, charclass):
        norm = [_norm_py(texts[i], charclass) for i in idx]
        m = _family_scores(norm, codes, W)
        best = m.max(axis=1)
        # langs is sorted, so the FIRST argmax is the alphabetical
        # tie-break; zero evidence → 'und'
        win = np.argmax(m == best[:, None], axis=1)
        return [
            langs[int(w)] if int(b) > 0 else "und"
            for w, b in zip(win, best)
        ]

    out = list(gates)
    for tag, (langs, codes, W, cls) in {
        "_lat": (lat_langs, lat_codes, lat_W, LANGID_CHARCLASS),
        "_cyr": (cyr_langs, cyr_codes, cyr_W, CYRILLIC_CHARCLASS),
    }.items():
        idx = [i for i, g in enumerate(gates) if g == tag]
        if idx:
            for i, lang in zip(idx, batch_pick(idx, langs, codes, W, cls)):
                out[i] = lang
    return out


def lang_scores(col: Column | str, profiles: dict[str, list[str]] | None = None) -> Column:
    """Per-language trigram-evidence scores as a map<lang, int>: the sum
    of rank weights over every OVERLAPPING occurrence of each profile
    trigram in the normalized text (the Cavnar–Trenkle statistic — every
    position votes). Arrow-batched vectorized scorer: one searchsorted
    over compiled trigram codes per batch, cost linear in text length
    and independent of how many profiles are loaded. Custom ``profiles``
    score against the LATIN normalizer (LANGID_CHARCLASS): grams using
    characters outside that alphabet can never match.

    .. versionchanged:: round 9
       Counts switched from non-overlapping (``replace``-fold) to
       OVERLAPPING occurrences, and the implementation moved from pure
       codegen Columns to an Arrow-batched pandas UDF (executors need
       numpy + pyarrow). Calibrated thresholds from earlier rounds must
       be re-derived against the overlapping statistic."""
    profiles = dict(profiles or LANG_TRIGRAMS)
    langs, codes, W = _compile_family(profiles)

    @F.pandas_udf("map<string,int>")
    def _scores(s):
        import pandas as pd

        norm = [_norm_py(t, LANGID_CHARCLASS) for t in s]
        m = _family_scores(norm, codes, W)
        return pd.Series(
            [dict(zip(langs, (int(v) for v in row))) for row in m]
        )

    return _scores(F.col(col) if isinstance(col, str) else col)


def lang_id(
    col: Column | str, profiles: dict[str, list[str]] | None = None
) -> Column:
    """Language label over 25 languages: a script gate (codepoint-range
    majority over SCRIPT_RANGES) routes each row to its profile family —
    Latin rows score the 16 Latin trigram profiles, Cyrillic rows the
    ru/uk profiles, and block-exclusive scripts label directly (ja via
    kana presence, ko via Hangul, zh via Han, el/ar/he/hi/th via their
    blocks). 'und' when no letters of any known script, or when the
    gated family's trigram evidence is zero. Ties break alphabetically.

    ``profiles`` (the pre-round-9 escape hatch, kept for API
    compatibility) bypasses the script gate entirely: every row scores
    against the caller's trigram profiles over the LATIN normalizer
    (same contract as :func:`lang_scores` — grams outside that alphabet
    can never match), argmax wins, zero evidence → 'und'.

    .. versionchanged:: round 9
       Occurrence counting is OVERLAPPING (every position votes — the
       Cavnar–Trenkle statistic), where earlier rounds counted
       non-overlapping ``replace``-fold occurrences: callers with
       thresholds calibrated against the old counts must recalibrate.
       The implementation also moved from pure codegen Column
       expressions to Arrow-batched pandas UDFs, so executors need
       numpy + pyarrow (both already required by the engine's dedup and
       similarity families).

    Arrow-batched, numpy-vectorized: scoring cost is linear in text
    length (one searchsorted per batch), NOT in profile count — the
    property that lets coverage grow to dozens of languages without the
    per-gram replace fold's linear cost blow-up (the 4-language fold was
    160 string passes/row; 18 profiles would have been ~700). The SQL
    oracle replays the identical statistic via trigram-position unnest +
    a generated weight-table join."""
    if profiles is not None:
        custom = {k: list(v) for k, v in profiles.items()}
        langs, codes, W = _compile_family(custom)

        @F.pandas_udf("string")
        def _lid_custom(s):
            import numpy as np
            import pandas as pd

            norm = [_norm_py(t, LANGID_CHARCLASS) for t in s]
            m = _family_scores(norm, codes, W)
            best = m.max(axis=1)
            win = np.argmax(m == best[:, None], axis=1)
            return pd.Series(
                [
                    langs[int(w)] if int(b) > 0 else "und"
                    for w, b in zip(win, best)
                ]
            )

        return _lid_custom(F.col(col) if isinstance(col, str) else col)

    @F.pandas_udf("string")
    def _lid(s):
        import pandas as pd

        return pd.Series(_langid_batch(list(s)))

    return _lid(F.col(col) if isinstance(col, str) else col)


def lm_score_stupid_backoff(
    df: DataFrame,
    text_col: str,
    id_col: str,
    corpus: DataFrame | None = None,
    alpha: float = 0.4,
) -> DataFrame:
    """Trigram language-model score with STUPID BACKOFF (Brants et al.
    2007, "Large Language Models in Machine Translation" §4 — the
    backoff designed FOR distributed count-table LMs: no discounting, a
    fixed backoff factor, quality approaching Kneser-Ney at scale).
    :func:`lm_score`'s higher-order sibling, the CCNet-grade perplexity
    filter shape. Per document: mean ln S(w₃|w₁w₂) over its trigram
    positions, where

        S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂·)        if the trigram is seen
                   = α · c(w₂w₃·)/c(w₂··)       else if the bigram is
                   = α² · c(··w₃)/N             else if the unigram is
                   = α³ · 1/N                   else (OOV floor)

    All orders derive from ONE trigram count table (lower orders are
    marginal sums), so the normalizations are consistent in any engine.
    ``corpus`` is the frame the counts come from (default: ``df`` itself
    — backoff then never fires; pass a training split to score held-out
    docs, where unseen trigrams genuinely back off). Docs with < 3
    tokens are omitted (no trigram evidence — length filters own them).
    Returns (id, n_trigrams, sb_score) with the score rounded to 6 (the
    round-before-compare contract: distributed float sums).

    Plan: one trigram explode per side; four vocabulary-shaped marginal
    aggregates (map-side combined); scoring is left hash joins of doc
    trigrams against the count tables plus one 1-row N broadcast —
    the classic distributed-LM shape (count tables sharded by n-gram
    key), nothing corpus-sized ever sits on one task."""
    a = float(alpha)

    def trigram_rows(frame: DataFrame, with_id: bool) -> DataFrame:
        toks = tokens(F.lower(F.col(text_col)))
        base = frame.select(
            F.col(id_col).alias("_id"), toks.alias("_w")
        )
        k = F.size(F.col("_w")) - 2
        cols = ["_id"] if with_id else []
        return (
            base.filter(k >= 1)
            .select(
                *cols,
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                        lambda i: F.struct(
                            F.element_at("_w", i).alias("w1"),
                            F.element_at("_w", i + 1).alias("w2"),
                            F.element_at("_w", i + 2).alias("w3"),
                        ),
                    )
                ).alias("_tg"),
            )
            .select(*cols, "_tg.w1", "_tg.w2", "_tg.w3")
        )

    from kusto_pre_forge_spark.pinning import pin

    # the trigram table feeds FIVE consumers (four marginal sums + the
    # scoring join); without pinning, the corpus re-scans and re-explodes
    # per consumer (measured 7 scans / 12 exchanges) — pin it once
    tri = pin(
        trigram_rows(corpus if corpus is not None else df, False)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("_c123"))
    )
    ctx12 = tri.groupBy("w1", "w2").agg(F.sum("_c123").alias("_c12"))
    bi23 = tri.groupBy("w2", "w3").agg(F.sum("_c123").alias("_c23"))
    ctx2 = tri.groupBy("w2").agg(F.sum("_c123").alias("_c2"))
    uni3 = tri.groupBy("w3").agg(F.sum("_c123").alias("_c3"))
    n_total = tri.agg(F.sum("_c123").alias("_n"))

    doc_tg = trigram_rows(df, True)
    scored = (
        doc_tg.join(tri, ["w1", "w2", "w3"], "left")
        .join(ctx12, ["w1", "w2"], "left")
        .join(bi23, ["w2", "w3"], "left")
        .join(ctx2, ["w2"], "left")
        .join(uni3, ["w3"], "left")
        .crossJoin(F.broadcast(n_total))
    )
    p = (
        F.when(
            F.col("_c123").isNotNull(),
            F.col("_c123").cast("double") / F.col("_c12"),
        )
        .when(
            F.col("_c23").isNotNull(),
            F.lit(a) * F.col("_c23").cast("double") / F.col("_c2"),
        )
        .when(
            F.col("_c3").isNotNull(),
            F.lit(a * a) * F.col("_c3").cast("double") / F.col("_n"),
        )
        .otherwise(F.lit(a * a * a) / F.col("_n"))
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.round(F.avg(F.log(p)), 6).alias("sb_score"),
        )
        .select(F.col("_id").alias(id_col), "n_trigrams", "sb_score")
    )


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Standard pre-training quality signals per document:

    n_chars, n_tokens, mean_token_len, punct_ratio (punctuation chars /
    chars), digit_ratio, stopword_ratio (English-marker tokens / tokens),
    upper_ratio. Composite ``quality_score`` in [0,1]: penalizes very short
    docs, punctuation/digit floods, and zero-stopword text (a C4/Gopher-
    style rule-based score).
    """
    c = F.col(text_col)
    toks = tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    punct = F.length(F.regexp_replace(c, "[^!-/:-@\\[-`{-~]", ""))
    digits = F.length(F.regexp_replace(c, "[^0-9]", ""))
    uppers = F.length(F.regexp_replace(c, "[^A-Z]", ""))
    stop_hits = F.size(F.filter(F.transform(toks, F.lower), lambda t: t.isin(LANG_MARKERS["en"])))

    out = (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("mean_token_len", (n_chars - n_tokens + 1) / safe_tokens)
        .withColumn("punct_ratio", punct / safe_chars)
        .withColumn("digit_ratio", digits / safe_chars)
        .withColumn("upper_ratio", uppers / safe_chars)
        .withColumn("stopword_ratio", stop_hits / safe_tokens)
    )
    score = (
        F.least(F.col("n_tokens") / F.lit(20.0), F.lit(1.0)) * 0.4
        + (1 - F.least(F.col("punct_ratio") * 4, F.lit(1.0))) * 0.2
        + (1 - F.least(F.col("digit_ratio") * 4, F.lit(1.0))) * 0.2
        + F.least(F.col("stopword_ratio") * 5, F.lit(1.0)) * 0.2
    )
    return out.withColumn("quality_score", score)


#: rolling-hash base and modulus (Rabin-Karp over token hashes)
FP_BASE, FP_MOD = 1_000_003, 2_147_483_647


def token_hashes(col: Column | str) -> Column:
    """md5-derived per-token hash array (oracle-replayable: DuckDB recomputes
    the same ``conv(substr(md5(tok),1,8),16,10)``)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(F.lower(c))
    return F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )


def fingerprint_from_hashes(th_col: Column | str, k: int = 3) -> Column:
    """Min k-gram rolling hash over an ALREADY-MATERIALIZED token-hash array.

    ``th_col`` must be a real column, not the ``token_hashes`` expression
    inline: interpreted higher-order functions have no common-subexpression
    elimination, so referencing the md5 array from inside the per-window
    lambda re-evaluates it for EVERY window — O(n_tokens²) md5 calls
    (measured 26× slower on the documents table). Materializing it as its
    own projection makes Catalyst compute it once per row (CollapseProject
    declines to inline a multiply-referenced non-trivial alias).
    """
    th = F.col(th_col) if isinstance(th_col, str) else th_col
    n = F.size(th)
    starts = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    gram_hash = lambda i: F.aggregate(  # noqa: E731
        F.slice(th, i, k),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * FP_BASE + h) % FP_MOD,
    )
    return F.array_min(F.transform(starts, gram_hash))


def doc_fingerprint(col: Column | str, k: int = 3) -> Column:
    """Rolling-hash document fingerprint (winnowing-lite).

    Token k-gram rolling hashes h(g) = Σ tokhash(tᵢ)·Bᵏ⁻¹⁻ⁱ mod P; the
    fingerprint is the *minimum* k-gram hash — robust to local edits
    anywhere except the minimizing window (cf. Schleimer et al. 2003,
    winnowing). Token hash is md5-derived (oracle-replayable).

    NOTE: as a single inline expression this re-hashes every token per
    window (no CSE inside interpreted HOF lambdas). Prefer
    ``fingerprint_df`` / the ``token_hashes`` + ``fingerprint_from_hashes``
    two-step on anything bigger than a smoke test.
    """
    return fingerprint_from_hashes(token_hashes(col), k)


def fingerprint_df(
    df: DataFrame, text_col: str, k: int = 3, out_col: str = "fingerprint"
) -> DataFrame:
    """Scale path for ``doc_fingerprint``: token hashes in their own
    projection (computed once per row), then the min-gram fold."""
    return (
        df.withColumn("_kpf_th", token_hashes(text_col))
        .withColumn(out_col, fingerprint_from_hashes(F.col("_kpf_th"), k))
        .drop("_kpf_th")
    )


def text_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One-stop per-document profile: tokens, quality, language, fingerprint."""
    out = quality_features(df, text_col)
    return (
        out.withColumn("bpe_tokens", bpe_token_count(text_col))
        .withColumn("lang_pred", lang_id(text_col))
        # two-step fingerprint: hash array materialized once per row
        .withColumn("_kpf_th", token_hashes(text_col))
        .withColumn("fingerprint", fingerprint_from_hashes(F.col("_kpf_th")))
        .select(
            id_col,
            "n_chars",
            "n_tokens",
            "bpe_tokens",
            "mean_token_len",
            "punct_ratio",
            "digit_ratio",
            "upper_ratio",
            "stopword_ratio",
            "quality_score",
            "lang_pred",
            "fingerprint",
        )
    )


def lm_score(
    df: DataFrame, text_col: str, id_col: str, add_k: float = 0.5
) -> DataFrame:
    """Corpus-bigram language-model score per document — the CCNet-style
    perplexity filter WITHOUT an external LM: the model is estimated from
    this corpus's own bigram counts. Score = mean ln p(wᵢ | wᵢ₋₁) over the
    document's word bigrams with add-k smoothing,
    ``p = (c(w₁w₂) + k) / (c(w₁·) + k·V)``; low scores mark documents
    whose word transitions are atypical for the corpus (gibberish, tables,
    wrong-language fragments). Returns (id, n_bigrams, lm_score); docs
    with < 2 tokens have no bigrams and are omitted (they carry no
    transition evidence — length filters handle them).

    Plan: one bigram explode (narrow), two map-side-combinable count
    aggregates sized by the VOCABULARY (bigram + context tables — at
    100 TB these are the classic word-count shape), one scalar distinct
    count broadcast as a literal-free cross join, and one hash join of
    doc-bigrams against the count tables on the bigram key. Context
    counts are derived from the bigram table (Σ c(w₁·)), keeping the
    normalization consistent in any engine.
    """
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_w"))
    k = F.size(F.col("_w")) - 1
    bigrams = base.filter(k >= 1).select(
        "_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("_w"), 1, F.greatest(k, F.lit(0))),
                F.slice(F.col("_w"), 2, F.greatest(k, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("_bg"),
    ).select("_id", "_bg.w1", "_bg.w2")

    bigram_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("_c12")
    )
    context_counts = bigram_counts.groupBy("w1").agg(F.sum("_c12").alias("_c1"))
    vocab = base.select(F.explode("_w").alias("_t")).agg(
        F.count_distinct("_t").alias("_v")
    )

    kk = F.lit(float(add_k))
    p = (F.col("_c12") + kk) / (F.col("_c1") + kk * F.col("_v"))
    return (
        bigrams.join(bigram_counts, ["w1", "w2"])
        .join(context_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.log(p)).alias("lm_score"),
        )
        .select(F.col("_id").alias(id_col), "n_bigrams", "lm_score")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k retrieval: the ``k`` documents best matching a bag of
    query terms — the standard sparse-retrieval scorer (Robertson/Lucene
    form) a training pipeline uses for eval-set mining, hard-negative
    sampling, and corpus search.

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
    with ``idf(t) = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))`` (Lucene's
    non-negative variant).

    Scale shape: tokenize → KEEP ONLY QUERY TERMS (a literal ``isin``
    filter pushed below the explode's shuffle — the token stream shrinks
    to |query|-term hits before anything wide), then two map-side-combined
    aggregates: tf per (doc, term) and df per term (|query|-sized,
    broadcast back). Corpus scalars N / avgdl come from one 1-row
    aggregate cross-joined as a literal plan — ``avgdl`` is computed as
    ``sum(dl)/N`` over exact integer token counts, so every engine derives
    the bit-identical double. The final top-k is
    ``TakeOrderedAndProject`` (per-task heaps), never a global sort;
    ranking compares the ROUNDED score (6 dp) with id tiebreak so
    equal-by-math scores order identically in any replaying engine.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), TOKEN_RE), lambda w: w != ""
    )
    base = df.select(F.col(id_col), toks.alias("_toks")).select(
        id_col, "_toks", F.size("_toks").cast("long").alias("_dl")
    )
    from kusto_pre_forge_spark.pinning import pin

    # corpus scalars over EVERY document (zero-token docs count toward N
    # and avgdl even though they can never match) — a pruned (text-only)
    # scan + 1-row aggregate, not derived from the exploded stream
    corpus = df.select(F.size(toks).cast("long").alias("_dl")).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        (F.sum("_dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "_avgdl"
        ),
    )
    base = pin(base.select(id_col, "_dl", F.explode("_toks").alias("term")))
    hits = base.filter(F.col("term").isin(list(query_terms)))
    tf = hits.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("_dl").alias("_dl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("_df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))  # 1-row corpus-stats frame
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_w",
            F.col("_idf")
            * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
            / (
                F.col("tf").cast("double")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("_dl").cast("double") / F.col("_avgdl")
                )
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.round(F.sum("_w"), 6).alias("bm25"),
        F.count(F.lit(1)).cast("long").alias("matched_terms"),
    )
    return per_doc.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)


#: default quality-classifier weights (offline-trained shape: positive on
#: english-marker density and healthy token lengths, negative on symbol
#: and digit floods; log-length saturates long docs)
QUALITY_LR_WEIGHTS = {
    "stopword_ratio": 3.0,
    "mean_token_len": 0.15,
    "punct_ratio": -4.0,
    "digit_ratio": -3.0,
    "upper_ratio": -1.0,
    "log_tokens": 0.35,
}


def quality_classifier_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    bias: float = -1.5,
    keep_threshold: float = 0.5,
    carry_cols: tuple = (),
    features_ready: bool = False,
) -> DataFrame:
    """Model inference in-plan: a logistic-regression quality classifier
    (fasttext/C4-classifier shape) scored entirely in codegen — the
    weights are trained OFFLINE and shipped as literals, so scoring
    100 TB is a scan projection with no UDF, no shuffle, and no model
    server. Features are the :func:`quality_features` columns plus
    ln(1+n_tokens); ``keep`` thresholds the sigmoid score.

    Returns (id, lr_score, keep).

    ``features_ready=True`` (r15, guide §2.4) declares that ``df``
    already carries the :func:`quality_features` columns (e.g. the
    caller pinned one feature pass shared with training) — the score is
    then a projection over those columns instead of re-deriving every
    feature from the text. Values are identical either way: the feature
    expressions are the same, only where they are evaluated moves.
    """
    w = dict(QUALITY_LR_WEIGHTS)
    if weights:
        w.update(weights)
    base = df if features_ready else quality_features(df, text_col)
    feats = base.withColumn(
        "log_tokens", F.log1p(F.col("n_tokens").cast("double"))
    )
    z = F.lit(float(bias))
    for name, wt in sorted(w.items()):
        z = z + F.lit(float(wt)) * F.col(name).cast("double")
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        score.alias("lr_score"),
        (score >= F.lit(float(keep_threshold))).alias("keep"),
    )


def _missing(v) -> bool:
    """A null or NaN cell (pandas decodes a null double as NaN)."""
    return v is None or (isinstance(v, float) and math.isnan(v))


def train_quality_lr(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    feature_cols: tuple = (
        "digit_ratio",
        "log_tokens",
        "punct_ratio",
        "stopword_ratio",
    ),
    n_iters: int = 8,
    learn_rate: float = 0.2,
    features_ready: bool = False,
) -> dict:
    """Close the classifier loop IN-ENGINE (round-11: the FineWeb-style
    labeled-seed → corpus-scale-filter workflow with no model server):
    train the logistic regression that :func:`quality_classifier_score`
    infers with, by fixed-iteration full-batch gradient descent over the
    :func:`quality_features` columns.

    Scale shape — iterations run through
    :func:`~kusto_pre_forge_spark.operators.iterate.iterate`: each task's
    partial collapses its rows to a feature-dim-bounded sufficient-
    statistics tuple (Σ(σ(z)−y)·f per feature, Σ(σ(z)−y), the log-loss
    sum in its overflow-free algebraic form ln(1+e^{−z}) + (1−y)·z, and
    the fitted-row count); the fold sums them, divides once and takes
    the gradient step. Driver traffic per iteration: one
    ``len(features)+3``-number partial per task — independent of corpus
    size. The feature projection is computed once and lineage-pinned
    (eager localCheckpoint) so iterations re-scan the materialized
    (label, features) frame, not the raw text.

    Deterministic and oracle-replayable: zero-initialized weights,
    fixed iteration count, no RNG, no standardization pass — the DuckDB
    oracle unrolls the same iterations as CTEs (the graph_pagerank
    pattern). Returns ``{"weights", "bias", "losses"}`` where
    ``losses[i]`` is the mean log-loss at the START of iteration i
    (monotone decrease is pinned in tests)."""
    # features_ready=True (r15): the caller's frame already carries the
    # quality_features columns (typical callers label BY quality_score,
    # so they computed the features anyway) — skip re-deriving them from
    # text inside the checkpoint plan. Identical values, one less
    # feature-extraction pass in the materialization job.
    base = df if features_ready else quality_features(df, text_col)
    feats = (
        base
        .withColumn("log_tokens", F.log1p(F.col("n_tokens").cast("double")))
        .select(
            F.col(label_col).cast("double").alias("_y"),
            *[F.col(f).cast("double") for f in feature_cols],
        )
        .localCheckpoint(eager=True)
    )
    cols = list(feature_cols)

    def load(pdf):
        return list(pdf[["_y", *cols]].itertuples(index=False, name=None))

    def partial(batches, state):
        # z folds left-to-right in feature order and the sums accumulate
        # row by row (plain Python floats); a null label or feature
        # poisons every term, so such rows are skipped
        wl, bl, _ = state
        s = [0.0] * len(cols)
        sb = sl = 0.0
        c = 0
        for rows in batches:
            for y_, *fv in rows:
                if _missing(y_) or any(_missing(v) for v in fv):
                    continue
                z = bl
                for wj, vj in zip(wl, fv):
                    z = z + wj * vj
                ez = math.exp(-z)
                r = 1.0 / (1.0 + ez) - y_
                for j, vj in enumerate(fv):
                    s[j] += r * vj
                sb += r
                sl += math.log(1.0 + ez) + (1.0 - y_) * z
                c += 1
        return s, sb, sl, c

    def fold(partials, state):
        wl, bl, ls = state
        s = [0.0] * len(cols)
        sb = sl = 0.0
        c = 0
        for ps, psb, psl, pc in partials:
            s = [a + x for a, x in zip(s, ps)]
            sb, sl, c = sb + psb, sl + psl, c + pc
        if c == 0:  # empty corpus: nothing to fit
            return None
        return (
            [wj - learn_rate * (sj / c) for wj, sj in zip(wl, s)],
            bl - learn_rate * (sb / c),
            [*ls, sl / c],
        )

    w, b, losses = iterate(
        feats, ([0.0] * len(cols), 0.0, []), n_iters, load, partial, fold
    )
    return {"weights": dict(zip(cols, w)), "bias": b, "losses": losses}


#: Gopher quality-rule stop words (Rae et al. 2021, "Scaling Language
#: Models: Methods, Analysis & Insights from Training Gopher", App. A1.1)
GOPHER_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_word_hits: int = 2,
    carry_cols: tuple = (),
) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021, Appendix A1.1)
    as one codegen scan projection — the standard pre-training corpus
    filter alongside C4's (:func:`c4_filters`).

    Per doc: word count bounds, mean word length window, symbol-to-word
    ratio (``#`` and ``...``), bullet-/ellipsis-line fractions, fraction
    of words containing an alphabetic character, and the
    ≥2-stop-words requirement; ``passes_gopher`` ANDs them all. No UDF,
    no shuffle — at 100 TB this runs inside the scan, and the numerators
    are exact integers so the DuckDB oracle replays bit-for-bit.
    """
    c = F.col(text_col)
    words = tokens(c)
    n_words = F.size(words)
    sum_word_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_wl = F.when(
        n_words > 0, F.round(sum_word_len.cast("double") / n_words, 6)
    )
    n_hash = F.size(F.regexp_extract_all(c, F.lit("#"), 0))
    n_ellipsis = F.size(F.regexp_extract_all(c, F.lit(r"\.\.\."), 0))
    symbol_ratio = F.when(
        n_words > 0, F.round((n_hash + n_ellipsis).cast("double") / n_words, 6)
    )
    lines = F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda x: F.trim(x).rlike(r"^[-*•]"))
    )
    n_ell_end = F.size(F.filter(lines, lambda x: F.trim(x).rlike(r"\.\.\.$")))
    bullet_frac = F.when(
        n_lines > 0, F.round(n_bullet.cast("double") / n_lines, 6)
    )
    ellipsis_frac = F.when(
        n_lines > 0, F.round(n_ell_end.cast("double") / n_lines, 6)
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    alpha_frac = F.when(
        n_words > 0, F.round(n_alpha.cast("double") / n_words, 6)
    )
    # DISTINCT stop words present ("contain at least two of the following
    # stop words" — membership, not occurrences: 'the the' is ONE)
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS]),
        )
    )
    passes = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_word_ratio)
        & (bullet_frac <= max_bullet_line_frac)
        & (ellipsis_frac <= max_ellipsis_line_frac)
        & (alpha_frac >= min_alpha_word_frac)
        & (stop_hits >= min_stop_word_hits)
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stop_word_hits"),
        F.coalesce(passes, F.lit(False)).alias("passes_gopher"),
    )


#: per-rule pass conditions over gopher_quality's OUTPUT columns. These
#: snippets are valid in BOTH Spark SQL and DuckDB — the attribution
#: operator evaluates them via F.expr and the oracle generator embeds the
#: identical strings, so the rule definitions cannot drift between engines.
GOPHER_RULE_SQL: dict[str, str] = {
    "words": "n_words >= {min_words} AND n_words <= {max_words}",
    "mean_word_len": (
        "mean_word_len >= {min_mean_word_len} "
        "AND mean_word_len <= {max_mean_word_len}"
    ),
    "symbol_ratio": "symbol_word_ratio <= {max_symbol_word_ratio}",
    "bullet_lines": "bullet_line_frac <= {max_bullet_line_frac}",
    "ellipsis_lines": "ellipsis_line_frac <= {max_ellipsis_line_frac}",
    "alpha_words": "alpha_word_frac >= {min_alpha_word_frac}",
    "stop_words": "stop_word_hits >= {min_stop_word_hits}",
}

GOPHER_RULE_DEFAULTS: dict[str, float] = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stop_word_hits": 2,
}


def gopher_rule_attribution(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    **thresholds,
) -> DataFrame:
    """Which rule is doing the filtering, per source — the calibration
    number a team reads BEFORE committing a 100 TB Gopher pass: a rule
    that fails 40 % of one source is either a miscalibrated threshold or
    a genuinely bad source, and ``n_fail_only`` (docs failing THIS rule
    and no other) is the marginal cost of keeping it.

    Returns one row per (group, rule): (group, rule, n_docs, n_fail,
    n_fail_only). Plan: the gopher metric scan (one codegen projection),
    a 7-struct array explode (rules × docs rows, map-side combined), one
    aggregate — nothing corpus-sized shuffles beyond the |groups|×7
    result. Rule conditions come from GOPHER_RULE_SQL, the same strings
    the oracle embeds."""
    th = {**GOPHER_RULE_DEFAULTS, **thresholds}
    g = gopher_quality(
        df,
        text_col,
        id_col,
        carry_cols=(group_col,),
        **{
            k: th[k]
            for k in (
                "min_words", "max_words", "min_mean_word_len",
                "max_mean_word_len", "max_symbol_word_ratio",
                "max_bullet_line_frac", "max_ellipsis_line_frac",
                "min_alpha_word_frac", "min_stop_word_hits",
            )
        },
    )
    ok = {
        name: F.coalesce(F.expr(cond.format(**th)), F.lit(False))
        for name, cond in GOPHER_RULE_SQL.items()
    }
    items = []
    for name in GOPHER_RULE_SQL:
        others = [ok[o] for o in GOPHER_RULE_SQL if o != name]
        all_others = others[0]
        for o in others[1:]:
            all_others = all_others & o
        items.append(
            F.struct(
                F.lit(name).alias("rule"),
                (~ok[name]).cast("int").alias("fail"),
                ((~ok[name]) & all_others).cast("int").alias("fail_only"),
            )
        )
    long = g.select(
        F.col(group_col).alias("grp"), F.explode(F.array(*items)).alias("x")
    ).select("grp", "x.rule", "x.fail", "x.fail_only")
    return long.groupBy("grp", "rule").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("fail").cast("long").alias("n_fail"),
        F.sum("fail_only").cast("long").alias("n_fail_only"),
    )


def c4_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 3,
    min_sentences: int = 3,
    carry_cols: tuple = (),
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, §2.2) as one codegen
    scan projection: keep lines that end in terminal punctuation and
    have at least ``min_line_words`` words; drop lines mentioning
    javascript or containing ``{``; drop whole docs containing
    "lorem ipsum", containing ``{``, or with fewer than
    ``min_sentences`` sentences.

    Returns (id, n_lines, n_kept_lines, n_sentences, has_lorem,
    has_brace, passes_c4, cleaned_text) — ``cleaned_text`` is the kept
    lines rejoined, the document the next pipeline stage would ingest.
    Line predicates are array HOFs over the split text (no UDF, no
    shuffle); every count is an exact integer for oracle replay.
    """
    c = F.col(text_col)
    lines = F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")

    def line_kept(x: Column) -> Column:
        t = F.trim(x)
        return (
            t.rlike('[.!?"]$')
            & (F.size(F.filter(F.split(t, r"\s+"), lambda w: w != "")) >= min_line_words)
            & ~F.lower(t).contains("javascript")
            & ~t.contains("{")
        )

    kept = F.filter(lines, line_kept)
    n_sentences = F.size(F.regexp_extract_all(c, F.lit("[.!?]"), 0))
    has_lorem = F.lower(c).contains("lorem ipsum")
    has_brace = c.contains("{")
    passes = (
        ~has_lorem
        & ~has_brace
        & (n_sentences >= min_sentences)
        & (F.size(kept) >= 1)
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sentences.cast("long").alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        passes.alias("passes_c4"),
        F.array_join(F.transform(kept, F.trim), "\n").alias("cleaned_text"),
    )


#: per-rule pass conditions over c4_filters' OUTPUT columns — the same
#: engine-shared-SQL-string contract as GOPHER_RULE_SQL.
C4_RULE_SQL: dict[str, str] = {
    "no_lorem": "NOT has_lorem",
    "no_brace": "NOT has_brace",
    "min_sentences": "n_sentences >= {min_sentences}",
    "kept_lines": "n_kept_lines >= 1",
}


def c4_rule_attribution(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    min_line_words: int = 3,
    min_sentences: int = 3,
) -> DataFrame:
    """:func:`gopher_rule_attribution`'s C4 twin: per (group, rule)
    n_fail and n_fail_only over the four C4 document-level rules — the
    calibration read for the OTHER standard filter stack. Same plan
    shape (one rule-flag scan + a 4-struct explode + one map-side-
    combined aggregate) and the same engine-shared condition strings
    (C4_RULE_SQL via F.expr / embedded in the oracle)."""
    th = {"min_sentences": int(min_sentences)}
    g = c4_filters(
        df,
        text_col,
        id_col,
        min_line_words=min_line_words,
        min_sentences=min_sentences,
        carry_cols=(group_col,),
    )
    ok = {
        name: F.coalesce(F.expr(cond.format(**th)), F.lit(False))
        for name, cond in C4_RULE_SQL.items()
    }
    items = []
    for name in C4_RULE_SQL:
        others = [ok[o] for o in C4_RULE_SQL if o != name]
        all_others = others[0]
        for o in others[1:]:
            all_others = all_others & o
        items.append(
            F.struct(
                F.lit(name).alias("rule"),
                (~ok[name]).cast("int").alias("fail"),
                ((~ok[name]) & all_others).cast("int").alias("fail_only"),
            )
        )
    long = g.select(
        F.col(group_col).alias("grp"), F.explode(F.array(*items)).alias("x")
    ).select("grp", "x.rule", "x.fail", "x.fail_only")
    return long.groupBy("grp", "rule").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("fail").cast("long").alias("n_fail"),
        F.sum("fail_only").cast("long").alias("n_fail_only"),
    )


def ccnet_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    head_frac: float = 1.0 / 3,
    middle_frac: float = 1.0 / 3,
    approx: bool = False,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC 2020 §4.3):
    score every document with the corpus-bigram LM (:func:`lm_score` — the
    in-corpus stand-in for CCNet's external KenLM), identify its language
    (:func:`lang_id`), and split each language's documents into
    ``head`` / ``middle`` / ``tail`` buckets by per-language score
    percentile. CCNet keeps ``head`` (lowest perplexity = highest mean
    log-prob) for LM training and drops or down-weights ``tail``.

    Returns (id, lang_pred, n_bigrams, lm_score, ppl_bucket). Documents
    with < 2 tokens carry no bigram evidence and are omitted (inherited
    from :func:`lm_score`; length filters handle them upstream).

    Determinism/oracle: the percentile is ``percent_rank()`` over
    (lang_pred) ordered by (round(lm_score, 6) DESC, id ASC) — rounding
    first makes the order reproducible across engines whose ``ln`` agrees
    to 6 dp (the pinned convention of the ``text_lm_score`` oracle), and
    the id tie-break pins equal scores.

    Scale: the exact path sorts each language partition once (the rank
    IS CCNet's definition — a per-language sort of the scored corpus,
    ~5 language partitions, skew-tolerant because the heavy work is the
    upstream LM join, not this rank). For 100 TB-per-language corpora
    pass ``approx=True``: bucket thresholds come from
    ``approx_percentile`` (t-digest, bounded state, one aggregate) and
    rows classify by broadcast threshold comparison — no sort at all, at
    the cost of boundary rows landing within t-digest error of the cut.
    """
    from pyspark.sql.window import Window

    scored = lm_score(df, text_col, id_col)
    lang = df.select(
        F.col(id_col), lang_id(F.col(text_col)).alias("lang_pred")
    )
    j = scored.join(lang, id_col).withColumn(
        "_s", F.round(F.col("lm_score"), 6)
    )
    lo, hi = float(head_frac), float(head_frac) + float(middle_frac)
    if approx:
        cuts = j.groupBy("lang_pred").agg(
            F.percentile_approx("_s", [1.0 - lo, 1.0 - hi], 10000).alias("_q")
        )
        j = j.join(F.broadcast(cuts), "lang_pred")
        bucket = (
            F.when(F.col("_s") >= F.col("_q")[0], F.lit("head"))
            .when(F.col("_s") >= F.col("_q")[1], F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        w = Window.partitionBy("lang_pred").orderBy(
            F.col("_s").desc(), F.col(id_col).asc()
        )
        pr = F.percent_rank().over(w)
        bucket = (
            F.when(pr < F.lit(lo), F.lit("head"))
            .when(pr < F.lit(hi), F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    return j.select(
        F.col(id_col),
        "lang_pred",
        "n_bigrams",
        F.col("_s").alias("lm_score"),
        bucket.alias("ppl_bucket"),
    )


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_col: str = "word",
) -> DataFrame:
    """Out-of-vocabulary rate per document against a vocabulary table —
    the coverage check run before committing to a tokenizer vocab or a
    fixed embedding table (a corpus slice with high OOV will tokenize
    into fragments or <unk>-flood the model).

    Plan: explode tokens (map-only), LEFT join the broadcast vocabulary
    (vocabularies are ≤ a few hundred k rows — always the small side),
    ONE map-side-combined per-doc aggregate. Zero-token documents come
    back with rate 0 via the final left join from the input (no row is
    silently dropped). Rates round to 6 (the exact-fraction idiom).

    Returns (id, n_tokens, n_oov, oov_rate).
    """
    toks = tokens(F.lower(F.col(text_col)))
    t = df.select(F.col(id_col), F.explode(toks).alias("_w"))
    v = (
        vocab.select(F.col(word_col).cast("string").alias("_w"))
        .distinct()
        .withColumn("_in", F.lit(1))
    )
    per_doc = (
        t.join(F.broadcast(v), "_w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
            F.round(
                F.coalesce(F.col("n_oov"), F.lit(0))
                / F.greatest(F.coalesce(F.col("n_tokens"), F.lit(0)), F.lit(1)).cast(
                    "double"
                ),
                6,
            ).alias("oov_rate"),
        )
    )


def char_entropy(col: Column | str) -> Column:
    """Shannon entropy (nats) of the text's character distribution — the
    cheap gibberish/encoded-blob detector: natural prose sits ~2.9-3.3,
    base64/hex blobs and key dumps run higher, single-char floods near 0.
    Pure expressions: chars via sequence+substr, per-char counts via a
    distinct-alphabet transform (alphabet-bounded, so the O(|Σ|·len)
    filter scan stays linear in practice), one fold — map-only, no
    explode, no shuffle. NULL-safe: empty text → 0.0.
    """
    c = F.col(col) if isinstance(col, str) else col
    chars = char_ngrams(c, 1)
    n = F.size(chars).cast("double")
    dist = F.array_distinct(chars)
    terms = F.transform(
        dist,
        lambda ch: (
            F.size(F.filter(chars, lambda x: x == ch)).cast("double") / n
        ),
    )
    h = -F.aggregate(
        F.transform(terms, lambda p: p * F.log(p)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(F.coalesce(n, F.lit(0.0)) > 0, F.round(h, 6)).otherwise(
        F.lit(0.0)
    )


# --- hashed n-gram text classifier (the fastText-linear family) --------------

#: token pattern shared verbatim with the DuckDB oracle
HASHED_LR_TOKEN_RE = "[a-z0-9]+"


def _gram_index(col: Column, dim: int, salt: str = "ft") -> Column:
    """Feature index via the hashing trick — first 8 md5 hex chars mod
    ``dim``, the engine-shared construction ``corpus._hash_unit`` uses
    (replayable in any engine with md5; no murmur dependency)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "|"), col)), 1, 8),
            16,
            10,
        ).cast("long")
        % F.lit(int(dim))
    )


def hashed_text_features(
    df: DataFrame,
    text_col: str,
    label_col: Column | str | None = None,
    dim: int = 1024,
    salt: str = "ft",
) -> DataFrame:
    """(…, _idxs array<long>, _n long[, _y double]) — the hashed
    unigram+bigram feature indices of each document, mean-pooled by
    convention (each gram contributes 1/n). This is the fastText-
    supervised input layer without the embedding table (= Vowpal-Wabbit
    style linear hashing): tokens are lowercase ``[a-z0-9]+`` runs,
    bigrams join with '_', and the md5 hashing trick maps an unbounded
    vocabulary to a fixed ``dim`` so the MODEL is feature-dim-bounded
    however large the corpus vocabulary grows — the property that makes
    corpus-scale training a sufficient-statistics aggregate.

    Pure codegen projection (regexp_extract_all + array HOFs + md5);
    indices materialize ONCE — training iterations never re-hash."""
    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '{HASHED_LR_TOKEN_RE}', 0)"
    )
    d = df.withColumn("_toks", toks)
    bigrams = F.when(
        F.size("_toks") >= 2,
        F.zip_with(
            F.slice("_toks", 1, F.greatest(F.size("_toks") - 1, F.lit(1))),
            F.slice("_toks", 2, F.greatest(F.size("_toks") - 1, F.lit(1))),
            lambda a, b: F.concat(a, F.lit("_"), b),
        ),
    ).otherwise(F.array())
    grams = F.concat(F.col("_toks"), bigrams)
    out = d.withColumn(
        "_idxs", F.transform(grams, lambda g: _gram_index(g, dim, salt))
    ).withColumn("_n", F.size("_idxs").cast("long")).drop("_toks")
    if label_col is not None:
        lab = F.col(label_col) if isinstance(label_col, str) else label_col
        out = out.withColumn("_y", lab.cast("double"))
    return out


def _hashed_z(weights: list, bias: float) -> Column:
    """Per-doc logit from materialized ``_idxs``/``_n`` under literal
    weights — a pure codegen aggregate fold (broadcast-literal array,
    the train_quality_lr posture)."""
    w_arr = F.array(*[F.lit(float(v)) for v in weights])
    s = F.aggregate(
        F.transform(
            F.col("_idxs"),
            lambda i: F.element_at(w_arr, (i + F.lit(1)).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.lit(float(bias)) + F.when(
        F.col("_n") > 0, s / F.col("_n").cast("double")
    ).otherwise(F.lit(0.0))


def train_hashed_text_lr(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    dim: int = 1024,
    n_iters: int = 8,
    learn_rate: float = 0.5,
    salt: str = "ft",
) -> dict:
    """Train a logistic regression over hashed unigram+bigram text
    features — the fastText-supervised/VW architecture that powers
    production corpus classifiers (CCNet's quality model, langid
    filters), trained fully in-engine with no model server.

    Scale shape: the feature frame (label, gram indices, n) materializes
    ONCE and is lineage-pinned; iterations run through
    :func:`~kusto_pre_forge_spark.operators.iterate.iterate`, whose
    per-task partial collapses the task's rows to ≤ dim+2 gradient sums
    (per gram index, bias, mean log-loss in its overflow-free algebraic
    form) plus a row count — traffic per iteration is tasks × (dim+2)
    doubles, independent of corpus size. Rows whose label is null or
    NaN count in the mean's denominator but add no gradient. Zero RNG,
    zero-init weights — the DuckDB oracle unrolls the identical
    iterations as CTEs.

    Returns {"weights": list[dim], "bias", "losses"}."""
    feats = (
        hashed_text_features(df, text_col, label_col, dim, salt)
        .select("_y", "_idxs")
        .localCheckpoint(eager=True)
    )

    def load(pdf):
        return [
            (y_, None if idxs_ is None else [int(i) for i in idxs_])
            for y_, idxs_ in zip(pdf["_y"], pdf["_idxs"])
        ]

    def partial(batches, state):
        # z folds the gram weights left-to-right in _idxs order and the
        # per-key sums accumulate row by row (plain Python floats); -1
        # keys the bias gradient, -2 the log-loss. Every row counts in
        # the n_docs denominator, but a row without a label (or without
        # text) contributes no term.
        wl, bl, _ = state
        sums: dict[int, float] = {}
        n_docs = 0
        for rows in batches:
            for y_, idxs_ in rows:
                n_docs += 1
                if _missing(y_) or idxs_ is None:
                    continue
                n_ = len(idxs_)
                acc = 0.0
                for i in idxs_:
                    acc += wl[i]
                z = bl + (acc / float(n_) if n_ > 0 else 0.0)
                ez = math.exp(-z)
                r = 1.0 / (1.0 + ez) - y_
                if n_ > 0:
                    gn = r / float(n_)
                    for i in idxs_:
                        sums[i] = sums.get(i, 0.0) + gn
                sums[-1] = sums.get(-1, 0.0) + r
                sums[-2] = sums.get(-2, 0.0) + (
                    math.log(1.0 + ez) + (1.0 - y_) * z
                )
        return sums, n_docs

    def fold(partials, state):
        wl, bl, ls = state
        sums: dict[int, float] = {}
        nd = 0
        for ps, pn in partials:
            nd += pn
            for i, g in ps.items():
                sums[i] = sums.get(i, 0.0) + g
        if -2 not in sums:  # no labeled row: nothing to fit
            return None
        wl = list(wl)
        for i, g in sums.items():
            if i >= 0:
                wl[i] -= learn_rate * g / nd
        return wl, bl - learn_rate * sums[-1] / nd, [*ls, sums[-2] / nd]

    w, b, losses = iterate(
        feats, ([0.0] * int(dim), 0.0, []), n_iters, load, partial, fold
    )
    return {"weights": w, "bias": b, "losses": losses}


def score_hashed_text_lr(
    df: DataFrame,
    weights: list,
    bias: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "ft",
    out_col: str = "p_quality",
) -> DataFrame:
    """Corpus-wide inference under a trained hashed-feature model — one
    pure-codegen scan projection (hash + literal-array fold + sigmoid),
    the pipeline_quality_lr_filter posture: no UDF, no model server, the
    filter runs inside the scan at any corpus size."""
    d = hashed_text_features(df, text_col, None, len(weights), salt)
    z = _hashed_z(weights, bias)
    return d.select(
        F.col(id_col),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias(out_col),
        F.col("_n").alias("n_grams"),
    )


def hashed_text_embedding(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    salt: str = "ft",
    out_col: str = "embedding",
) -> DataFrame:
    """Deterministic MODEL-FREE text embedding — the hashed
    unigram+bigram count vector, L2-normalized: cosine over these
    vectors IS n-gram similarity (the classic hashing-trick document
    vector), which makes every operator in the similarity family
    (brute/LSH/IVF top-k, kNN, SemDeDup) applicable to raw text with
    no embedding model and no external table. Zero RNG: the same text
    embeds identically on any engine (md5 hashing trick), so stores
    built from it are replayable.

    The feature indices stay codegen (hashed_text_features); the dense
    count/normalize step is an ARROW-VECTORIZED pandas_udf over
    numpy.bincount. Not a HOF chain on purpose: Spark's higher-order
    functions run INTERPRETED, and reusing the count array across the
    norm fold and the per-component divide re-inlines the whole
    subexpression per element (no CSE inside lambdas) — measured
    O(dim²·grams) interpreted ops per document, 450 s for 5 000 docs
    at dim 32 where the bincount form takes under a second. Zero-gram
    documents embed as the zero vector rather than NULL (cosine
    handles it downstream as similarity 0). Counts are integers and
    the norm an integer-sum sqrt, so components stay EXACT — no
    rounding needed for cross-engine replay."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    d = hashed_text_features(df, text_col, None, dim, salt)
    dim = int(dim)

    def _emb_batch(idxs):
        import numpy as np

        out = []
        for ix in idxs:
            c = np.bincount(
                np.asarray(ix, dtype=np.int64), minlength=dim
            ).astype(np.float64)
            nrm = float(np.sqrt((c * c).sum()))
            out.append((c / nrm).tolist() if nrm > 0 else c.tolist())
        return pd.Series(out)

    # hints as classes: under `from __future__ import annotations` the
    # string "pd.Series" would not resolve, pandas being imported locally
    _emb_batch.__annotations__ = {"idxs": pd.Series, "return": pd.Series}
    _emb = pandas_udf(_emb_batch, "array<double>")

    return d.select(
        F.col(id_col),
        _emb(F.col("_idxs")).alias(out_col),
        F.col("_n").cast("long").alias("n_grams"),
    )
