"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.  Pure Catalyst expressions (no Python per row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "token_count",
    "bpe_ish_token_count",
    "quality_features",
    "quality_score",
    "language_id",
    "fingerprint",
    "pii_counts",
    "pii_scrub",
    "repetition_stats",
    "token_entropy",
    "collocation_pmi",
    "chi2_terms",
    "readability",
]

# Tokenizer charset shared by the Spark expression AND the generated
# DuckDB oracle SQL (queries._lang_guess_sql) — keep the two in sync by
# importing THESE constants, never by copying the pattern.  Ranges cover
# Latin-1 letters (skipping U+00F7 '÷'); the explicit tail adds the
# Latin-Extended letters the stopword lists below use (Polish, Czech,
# Slovak, Romanian, Turkish, Hungarian, Croatian).
_TOKEN_CHARS = "a-zà-öø-ÿąćęłńśźżčďěňřšťůžĺľŕășşțţğıőűđ"
_TOKEN_SPLIT = f"[^{_TOKEN_CHARS}]+"

# Per-language stopword lists (~50 high-frequency function words each,
# standard public lists) for the stopword-hit argmax heuristic.  All
# words are lowercase and draw only on _TOKEN_CHARS so tokenization can
# produce them (asserted in tests).
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was",
           "on", "are", "as", "with", "his", "they", "be", "at", "one",
           "have", "this", "from", "or", "had", "by", "not", "but", "what",
           "all", "were", "we", "when", "your", "can", "said", "there",
           "use", "an", "each", "which", "she", "do", "how", "their", "if",
           "will", "up", "other", "about", "out"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf",
           "zu", "den", "dem", "des", "sie", "er", "es", "ich", "wir",
           "sind", "war", "für", "von", "bei", "aus", "nach", "über",
           "unter", "durch", "gegen", "ohne", "um", "auch", "noch", "nur",
           "schon", "wenn", "aber", "oder", "als", "wie", "kein", "mein",
           "sein", "alle", "man", "haben", "werden", "kann", "sehr",
           "dann"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "que",
           "dans", "un", "des", "du", "de", "il", "elle", "nous", "vous",
           "ils", "je", "tu", "ne", "se", "ce", "cette", "ces", "mais",
           "ou", "où", "donc", "car", "si", "sur", "sous", "avec", "sans",
           "être", "avoir", "fait", "plus", "moins", "très", "bien",
           "tout", "tous", "son", "sa", "ses", "leur", "aux"],
    "es": ["el", "la", "los", "las", "de", "que", "es", "en", "un", "una",
           "por", "con", "para", "no", "se", "su", "sus", "lo", "le",
           "del", "al", "y", "o", "pero", "más", "como", "cuando", "donde",
           "quien", "sin", "sobre", "entre", "hasta", "desde", "este",
           "esta", "estos", "estas", "ese", "esa", "aquel", "todo",
           "todos", "nada", "ser", "estar", "hay", "fue", "son", "era"],
    "pt": ["o", "a", "os", "as", "de", "que", "é", "em", "um", "uma",
           "por", "com", "para", "não", "se", "seu", "sua", "do", "da",
           "dos", "das", "no", "na", "nos", "nas", "ao", "aos", "e", "ou",
           "mas", "mais", "como", "quando", "onde", "quem", "sem",
           "sobre", "entre", "até", "desde", "este", "esta", "isso",
           "isto", "todo", "todos", "nada", "ser", "foi", "são"],
    "it": ["il", "lo", "la", "i", "gli", "le", "di", "che", "è", "in",
           "un", "una", "per", "con", "non", "si", "suo", "sua", "del",
           "della", "dei", "delle", "nel", "nella", "e", "o", "ma", "più",
           "come", "quando", "dove", "chi", "senza", "sopra", "tra",
           "fra", "fino", "da", "questo", "questa", "quello", "quella",
           "tutto", "tutti", "niente", "essere", "sono", "era", "anche",
           "se"],
    "nl": ["de", "het", "een", "en", "van", "in", "is", "dat", "die",
           "niet", "met", "op", "voor", "aan", "bij", "uit", "naar",
           "over", "onder", "door", "zonder", "om", "ook", "nog", "maar",
           "of", "als", "zo", "dan", "wel", "geen", "mijn", "zijn",
           "haar", "ons", "jullie", "zij", "wij", "ik", "je", "hij",
           "ze", "we", "er", "hier", "daar", "wat", "wie", "hoe",
           "heeft"],
    "sv": ["och", "att", "det", "som", "en", "på", "är", "av", "för",
           "med", "den", "till", "inte", "om", "han", "hon", "de", "vi",
           "ni", "jag", "du", "ett", "men", "var", "sig", "från", "ut",
           "när", "efter", "under", "över", "mellan", "utan", "mot",
           "vid", "kan", "ska", "har", "hade", "alla", "andra", "någon",
           "något", "där", "här", "vad", "vem", "hur", "nu", "då"],
    "da": ["og", "at", "det", "som", "en", "på", "er", "af", "for",
           "med", "den", "til", "ikke", "om", "han", "hun", "de", "vi",
           "i", "jeg", "du", "et", "men", "var", "sig", "fra", "ud",
           "når", "efter", "under", "over", "mellem", "uden", "mod",
           "ved", "kan", "skal", "har", "havde", "alle", "andre",
           "nogen", "noget", "der", "her", "hvad", "hvem", "hvordan",
           "nu", "så"],
    "no": ["og", "at", "det", "som", "en", "på", "er", "av", "for",
           "med", "den", "til", "ikke", "om", "han", "hun", "de", "vi",
           "jeg", "du", "et", "men", "var", "seg", "fra", "ut", "når",
           "etter", "under", "over", "mellom", "uten", "mot", "ved",
           "kan", "skal", "har", "hadde", "alle", "andre", "noen",
           "noe", "der", "her", "hva", "hvem", "hvordan", "nå", "da",
           "være"],
    "fi": ["ja", "on", "ei", "se", "että", "hän", "oli", "ovat", "minä",
           "sinä", "me", "te", "he", "tämä", "tuo", "joka", "kun", "jos",
           "mutta", "tai", "myös", "vain", "vielä", "jo", "niin", "kuin",
           "mitä", "kuka", "missä", "miten", "nyt", "sitten", "koska",
           "ennen", "jälkeen", "ilman", "kanssa", "mukaan", "kaikki",
           "muut", "joku", "jokin", "siellä", "täällä", "olla", "voi",
           "pitää", "hyvin", "paljon", "mikä"],
    "pl": ["i", "w", "na", "nie", "to", "jest", "się", "że", "z", "do",
           "o", "jak", "po", "ale", "za", "od", "przez", "przy", "bez",
           "dla", "czy", "tak", "już", "tylko", "jeszcze", "może",
           "być", "był", "była", "było", "są", "ma", "mają", "ten",
           "ta", "te", "tego", "tej", "kiedy", "gdzie", "kto", "co",
           "wszystko", "nic", "bardzo", "teraz", "tutaj", "oraz",
           "lub", "więc"],
    "cs": ["a", "v", "na", "není", "to", "je", "se", "že", "s", "do",
           "o", "jak", "po", "ale", "za", "od", "přes", "při", "bez",
           "pro", "zda", "tak", "už", "jen", "ještě", "může", "být",
           "byl", "byla", "bylo", "jsou", "má", "mají", "ten", "ta",
           "ty", "toho", "té", "kdy", "kde", "kdo", "co", "všechno",
           "nic", "velmi", "teď", "tady", "nebo", "když", "i"],
    "sk": ["a", "v", "na", "nie", "to", "je", "sa", "že", "s", "do",
           "o", "ako", "po", "ale", "za", "od", "cez", "pri", "bez",
           "pre", "či", "tak", "už", "len", "ešte", "môže", "byť",
           "bol", "bola", "bolo", "sú", "má", "majú", "ten", "tá",
           "tie", "toho", "tej", "kedy", "kde", "kto", "čo", "všetko",
           "nič", "veľmi", "teraz", "tu", "alebo", "keď", "aj"],
    "ro": ["și", "în", "la", "nu", "este", "pe", "cu", "un", "o", "că",
           "de", "se", "din", "pentru", "dar", "sau", "dacă", "mai",
           "când", "unde", "cine", "ce", "tot", "toate", "nimic",
           "foarte", "acum", "aici", "fi", "fost", "sunt", "era", "au",
           "are", "acest", "această", "acel", "acea", "după",
           "înainte", "fără", "între", "prin", "peste", "sub", "ca",
           "așa", "atunci", "doar", "încă"],
    "hu": ["a", "az", "és", "hogy", "nem", "is", "ez", "egy", "van",
           "volt", "lesz", "de", "ha", "mert", "mint", "már", "még",
           "csak", "nagyon", "itt", "ott", "most", "akkor", "aki",
           "ami", "mi", "ki", "hol", "mikor", "hogyan", "minden",
           "semmi", "valami", "vagy", "sem", "el", "fel", "le", "meg",
           "be", "után", "előtt", "alatt", "felett", "között",
           "nélkül", "által", "ezek", "azok", "lehet"],
    "tr": ["bir", "bu", "ve", "de", "da", "ne", "için", "ile", "olarak",
           "daha", "çok", "en", "gibi", "kadar", "sonra", "önce", "ama",
           "fakat", "veya", "ya", "hem", "hiç", "her", "şey", "o",
           "ben", "sen", "biz", "siz", "onlar", "var", "yok", "olan",
           "oldu", "olur", "mi", "mı", "mu", "mü", "değil", "ise",
           "diye", "üzere", "bütün", "bazı", "kendi", "şu", "nasıl",
           "neden", "zaman"],
    "hr": ["i", "u", "na", "ne", "to", "je", "se", "da", "s", "do",
           "o", "kako", "nakon", "ali", "za", "od", "kroz", "pri",
           "bez", "ili", "tako", "već", "samo", "još", "može", "biti",
           "bio", "bila", "bilo", "su", "ima", "imaju", "taj", "ta",
           "te", "toga", "kad", "gdje", "tko", "što", "sve", "ništa",
           "vrlo", "sada", "ovdje", "koji", "koja", "koje", "njegov",
           "njihov"],
    "ca": ["el", "la", "els", "les", "de", "que", "és", "en", "un",
           "una", "per", "amb", "no", "es", "seu", "seva", "del", "al",
           "i", "o", "però", "més", "com", "quan", "on", "qui", "sense",
           "sobre", "entre", "fins", "des", "aquest", "aquesta", "això",
           "tot", "tots", "res", "ser", "estar", "hi", "ha", "va",
           "són", "era", "també", "si", "molt", "ja", "sempre", "cap"],
    "id": ["yang", "dan", "di", "ke", "dari", "untuk", "dengan", "pada",
           "adalah", "ini", "itu", "tidak", "ada", "akan", "sudah",
           "telah", "bisa", "dapat", "harus", "dalam", "atas", "bawah",
           "antara", "tanpa", "karena", "jika", "ketika", "dimana",
           "siapa", "apa", "semua", "tiada", "sangat", "sekarang",
           "sini", "situ", "atau", "tetapi", "juga", "hanya", "masih",
           "lagi", "pernah", "kami", "kita", "mereka", "dia", "saya",
           "anda", "begitu"],
}


def token_count(text_col: str = "content"):
    """Whitespace token count (matches the oracle-checked query)."""
    return F.size(F.split(F.col(text_col), r"\s+"))


def fast_token_count(text_col: str = "content"):
    """Single-space token count: ``len - len(remove ' ') + 1``.

    3.4x cheaper than the regex split at 16M rows (no token-array
    allocation, no regex machinery) and identical on single-space-
    normalized corpora; under-counts runs of mixed whitespace.  Used
    where the count feeds a scale-invariant FEATURE (drift vectors)
    rather than a reported statistic."""
    c = F.col(text_col)
    return F.length(c) - F.length(F.replace(c, F.lit(" "), F.lit(""))) + F.lit(1)


def bpe_ish_token_count(text_col: str = "content"):
    """BPE-flavored proxy: word pieces + digits + punctuation runs.

    A real tokenizer is model-specific; pipelines use this regex count as
    a cheap, monotone-correlated stand-in for budget accounting.
    """
    return F.size(
        F.regexp_extract_all(
            F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), F.lit(0)
        )
    )


def quality_features(text_col: str = "content"):
    """Struct of the standard quality signals (all JVM expressions)."""
    c = F.col(text_col)
    n_chars = F.length(c).cast("double")
    safe_chars = F.greatest(n_chars, F.lit(1.0))
    toks = F.split(c, r"\s+")
    n_toks = F.size(toks).cast("double")
    safe_toks = F.greatest(n_toks, F.lit(1.0))
    punct = F.length(F.regexp_replace(c, r"[^.!?,;:]", "")).cast("double")
    digits = F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("double")
    upper = F.length(F.regexp_replace(c, r"[^A-Z]", "")).cast("double")
    uniq_ratio = (
        F.size(F.array_distinct(toks)).cast("double") / safe_toks
    )
    return F.struct(
        n_chars.alias("n_chars"),
        n_toks.alias("n_tokens"),
        (n_chars / safe_toks).alias("mean_token_len"),
        (punct / safe_chars).alias("punct_ratio"),
        (digits / safe_chars).alias("digit_ratio"),
        (upper / safe_chars).alias("upper_ratio"),
        uniq_ratio.alias("unique_token_ratio"),
    )


def quality_score(text_col: str = "content"):
    """[0,1] composite: length in a sane band, not punct/digit soup, and
    lexically diverse.  Thresholds follow common corpus-filtering folklore
    (Gopher-style rules); each term is a soft [0,1] gate."""
    qf = quality_features(text_col)
    len_ok = F.when(
        (qf["n_tokens"] >= 5) & (qf["n_tokens"] <= 100000), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    tok_ok = F.when(
        (qf["mean_token_len"] >= 2) & (qf["mean_token_len"] <= 12), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    punct_ok = F.lit(1.0) - F.least(
        F.lit(1.0), qf["punct_ratio"] * 4.0
    )
    digit_ok = F.lit(1.0) - F.least(F.lit(1.0), qf["digit_ratio"] * 3.0)
    diversity = F.least(F.lit(1.0), qf["unique_token_ratio"] * 1.25)
    return (
        (len_ok + tok_ok + punct_ok + digit_ok + diversity) / F.lit(5.0)
    ).alias("quality_score")


def language_id(text_col: str = "content"):
    """Stopword-hit argmax across ~20 languages; 'und' (undetermined)
    when no list scores at least 2 hits.  One array_intersect per
    language against a literal array — no shuffle, no UDF; ties resolve
    to the LAST matching language in ``_STOPWORDS`` order (the DuckDB
    twin in queries.py mirrors this exactly)."""
    toks = F.array_distinct(
        F.split(F.lower(F.col(text_col)), _TOKEN_SPLIT)
    )
    scores = [
        (
            lang,
            F.size(
                F.array_intersect(
                    toks, F.array(*[F.lit(w) for w in words])
                )
            ),
        )
        for lang, words in _STOPWORDS.items()
    ]
    best_score = F.greatest(*[s for _, s in scores])
    guess = F.lit("und")
    for lang, s in scores:
        guess = F.when(s == best_score, F.lit(lang)).otherwise(guess)
    return F.when(best_score >= 2, guess).otherwise(F.lit("und"))


def fingerprint(text_col: str = "content", normalize: bool = True):
    """64-bit content fingerprint: xxhash64 over normalized text
    (lowercase, collapsed whitespace).  Matches across trivially
    reformatted duplicates; for fuzzier matching use dedup.simhash64 or
    the minhash signature."""
    c = F.col(text_col)
    if normalize:
        c = F.regexp_replace(F.lower(c), r"\s+", " ")
        c = F.trim(c)
    return F.xxhash64(c)


def add_text_analysis(
    df: DataFrame, text_col: str = "content"
) -> DataFrame:
    """Convenience: attach all text-analysis columns in one projection."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens_ws"),
        bpe_ish_token_count(text_col).alias("n_tokens_bpe"),
        quality_score(text_col),
        language_id(text_col).alias("lang_guess"),
        fingerprint(text_col).alias("fingerprint64"),
    )


# --------------------------------------------------------------------------
# repetition + PII (Gopher-style repetition gates; standard scrub pass)
# --------------------------------------------------------------------------

# Conservative ASCII patterns chosen for identical semantics in Java
# regex (Spark) and RE2 (DuckDB oracle): no lookaround, no backrefs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\b\d{3}[- ]\d{3,4}[- ]\d{4}\b",
}
PII_TAGS = {"email": "<EMAIL>", "ipv4": "<IP>", "phone": "<PHONE>"}


def pii_counts(text_col: str = "content"):
    """Struct of per-kind PII match counts (JVM ``regexp_count``)."""
    c = F.col(text_col)
    return F.struct(
        *[
            F.regexp_count(c, F.lit(p)).alias(f"n_{k}")
            for k, p in PII_PATTERNS.items()
        ]
    )


def pii_scrub(text_col: str = "content"):
    """Text with every PII match replaced by its tag — chained JVM
    ``regexp_replace`` (email first: its pattern could otherwise match
    inside an already-redacted tag's neighborhood, never vice versa)."""
    c = F.col(text_col)
    for k in ("email", "ipv4", "phone"):
        c = F.regexp_replace(c, PII_PATTERNS[k], PII_TAGS[k])
    return c


def repetition_stats(
    df,
    text_col: str = "content",
    id_col: str = "row_id",
    n: int = 2,
):
    """Per-document n-gram repetition signals (Gopher-style gates):
    ``dup_gram_fraction`` (1 − distinct/total) and ``top_gram_fraction``
    (most frequent n-gram's share).  Boilerplate and spam score high;
    normal prose sits near 0 / 1-over-total.

    Two aggregations, keyed by ``(id, gram)`` then ``(id)`` — partial
    map-side combines both times, nothing hot (a doc's grams land on one
    reducer only after the per-(id, gram) collapse).  Documents with
    fewer than ``n`` tokens have no grams and are absent from the
    result.  Tokenization shares :data:`decontam.NGRAM_TOKEN_SPLIT`.
    """
    from pynomaly_spark.decontam import exploded_ngrams

    grams = exploded_ngrams(df, text_col, [F.col(id_col)], n)
    per_gram = grams.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return per_gram.groupBy(id_col).agg(
        F.sum("_c").alias("n_grams"),
        F.count(F.lit(1)).alias("distinct_grams"),
        (1.0 - F.count(F.lit(1)) / F.sum("_c")).alias("dup_gram_fraction"),
        (F.max("_c") / F.sum("_c")).alias("top_gram_fraction"),
    )


def token_entropy(
    df: DataFrame,
    text_col: str = "content",
    id_col: str = "row_id",
) -> DataFrame:
    """Per-document unigram token (Shannon) entropy in bits — the
    classic diversity/quality signal: templated spam and keyword-stuffed
    pages score far below prose of the same length, and near-zero
    entropy flags single-token repetition that the length/punct ratios
    miss.  Whitespace tokenization (the corpus-stats convention used by
    ``q_doc_token_stats``); empty tokens are dropped.

    Returns ``(id_col, n_tokens, uniq_tokens, entropy_bits)`` for every
    doc with at least one token, where
    ``entropy_bits = log2(n) - sum(c*log2(c))/n`` over per-token counts
    ``c`` — the algebraic form that needs ONE pass over the
    ``(id, token)`` counts and no per-token probability column.

    Scale shape: explode -> (id, token) count (map-side partial
    combine collapses each doc's repeats before the exchange) ->
    one id-keyed aggregate.  Both shuffles are keyed, skew-free by
    construction (a doc's distinct tokens land on one reducer only
    after the first collapse).
    """
    toks = (
        df.where(F.col(text_col).isNotNull())
        .select(
            id_col,
            F.explode(F.split(F.col(text_col), r"\s+")).alias("_tok"),
        )
        .where(F.length("_tok") > 0)
    )
    tc = toks.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_c"))
    n = F.sum("_c")
    return tc.groupBy(id_col).agg(
        n.alias("n_tokens"),
        F.count(F.lit(1)).alias("uniq_tokens"),
        F.round(
            F.log2(n.cast("double"))
            - F.sum(F.col("_c") * F.log2(F.col("_c").cast("double")))
            / n.cast("double"),
            6,
        ).alias("entropy_bits"),
    )


def collocation_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_pair_n: int = 5,
) -> DataFrame:
    """Bigram collocation mining by pointwise mutual information — the
    phrase-discovery pass (Mikolov-style word2phrase, Gensim Phrases)
    a corpus pipeline runs before tokenizer training or phrase-aware
    indexing.

    For adjacent token pairs (w1, w2): ``n_pair`` (bigram count),
    ``n_left`` / ``n_right`` (marginal counts of w1 as a left /
    w2 as a right bigram member), and
    ``pmi6 = round(ln(n_pair·N / (n_left·n_right)), 6)`` where N is
    the corpus bigram total — PMI over bigram-marginal probabilities,
    so every input to the single ``ln`` is an exact BIGINT and the
    ratio is ONE IEEE division sequence identical cross-engine.

    Tokenization: lowercase whitespace split; bigrams are formed over
    the RAW split array and pairs touching an empty token are dropped
    AFTER pairing — order of operations matters for adjacency and must
    match the oracle exactly.  Pairs rarer than ``min_pair_n`` are
    dropped at the END (marginals still count them) — PMI on
    singletons is noise by construction.

    Scale (100 TB): bigram explosion is map-side (one projection);
    the only full-corpus shuffle is the (w1, w2) count with map-side
    combine.  Marginals and the total are computed FROM the collapsed
    pair frame (vocab², orders of magnitude smaller) — two window
    passes and one 1-row broadcast, never a second corpus scan.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (text-analysis family of the pipeline brief).
    """
    if min_pair_n < 1:
        raise ValueError(f"collocation_pmi: min_pair_n must be >= 1")
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    pairs = (
        df.where(F.col(text_col).isNotNull())
        .select(toks.alias("_l"))
        .where(F.size("_l") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_l") - 1),
                    lambda i: F.struct(
                        F.element_at("_l", i).alias("w1"),
                        F.element_at("_l", i + 1).alias("w2"),
                    ),
                )
            ).alias("_p")
        )
        .select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    wl = Window.partitionBy("w1")
    wr = Window.partitionBy("w2")
    tot = counts.agg(F.sum("n_pair").alias("_n_total"))
    return (
        counts.withColumn("n_left", F.sum("n_pair").over(wl))
        .withColumn("n_right", F.sum("n_pair").over(wr))
        .crossJoin(F.broadcast(tot))
        .where(F.col("n_pair") >= min_pair_n)
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.col("n_left").cast("long").alias("n_left"),
            F.col("n_right").cast("long").alias("n_right"),
            F.round(
                F.log(
                    (F.col("n_pair") * F.col("_n_total")).cast("double")
                    / (F.col("n_left") * F.col("n_right")).cast("double")
                ),
                6,
            ).alias("pmi6"),
        )
    )


def chi2_terms(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    min_len: int = 3,
    min_df: int = 5,
    top_k: int = 10,
) -> DataFrame:
    """Chi-squared (token, label) association — the classic supervised
    feature-selection screen (select the vocabulary a classifier should
    keep) and a labelled-corpus drift probe (which terms are suddenly
    over-represented in one slice).  Document-frequency semantics: a
    token counts once per document, so n11/n10/n01/n00 form a clean
    2x2 contingency table per (token, label):

        chi2 = N*(n11*n00 - n10*n01)^2 / (df*(N-df)*n_c*(N-n_c))

    where ``df`` is the token's document frequency, ``n_c`` the label's
    document count, ``N`` the corpus size.  EVERY input to the float
    expression is an exact integer count (< 2^53), and the expression
    tree is mirrored verbatim in the SQL twin, so both engines execute
    the identical IEEE op sequence — no tolerance needed beyond the
    shared 6-dp output round.

    Returns the ``top_k`` terms per label ranked by
    ``(chi2 DESC, term ASC)`` (rank on the ROUNDED score so a last-ulp
    divergence can never flip neighbours): ``(label, rnk, term, n11,
    df, chi2)``.  Tokens present in every document are excluded (their
    denominator is 0 — zero discriminative information anyway).

    Scale shape: one explode of per-doc DISTINCT tokens -> ONE
    (token, label) keyed count; the token marginal re-aggregates THAT
    vocabulary-sized frame (never the corpus), the label marginal and N
    are tiny broadcast aggregates of the document frame.  The heavy
    exchange is the single (token, label) shuffle with map-side
    combine; everything after is vocabulary-sized.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (training-data pipeline family, beside
    ``token_entropy`` / ``collocation_pmi``).
    """
    docs = df.where(F.col(text_col).isNotNull()).select(
        F.col(label_col).alias("label"), F.col(text_col).alias("_t")
    )
    toks = docs.select(
        "label",
        F.explode(
            F.array_distinct(F.split(F.lower("_t"), _TOKEN_SPLIT))
        ).alias("term"),
    ).where(F.length("term") >= int(min_len))
    n11 = toks.groupBy("term", "label").agg(
        F.count(F.lit(1)).alias("n11")
    )
    dfreq = n11.groupBy("term").agg(F.sum("n11").alias("df"))
    n_c = docs.groupBy("label").agg(F.count(F.lit(1)).alias("n_c"))
    tot = docs.agg(F.count(F.lit(1)).alias("n_all"))
    j = (
        n11.join(dfreq, "term")
        .join(F.broadcast(n_c), "label")
        .crossJoin(F.broadcast(tot))
        .where(
            (F.col("df") >= int(min_df))
            & (F.col("df") < F.col("n_all"))
            & (F.col("n_c") < F.col("n_all"))
        )
    )
    n, d, c, a = (
        F.col("n_all").cast("double"),
        F.col("df").cast("double"),
        F.col("n_c").cast("double"),
        F.col("n11").cast("double"),
    )
    # 2x2 cells from the marginals; diff = n11*n00 - n10*n01 stays an
    # exact integer in double (|diff| <= N^2/4); the twin mirrors this
    # exact tree
    diff = a * (n - d - c + a) - (d - a) * (c - a)
    chi2 = (n * diff * diff) / (d * (n - d) * c * (n - c))
    scored = j.select(
        F.col("label"),
        F.col("term"),
        F.col("n11").cast("long").alias("n11"),
        F.col("df").cast("long").alias("df"),
        F.round(chi2, 6).alias("chi2"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("chi2"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= int(top_k))
        .select(
            "label",
            F.col("rnk").cast("long").alias("rnk"),
            "term",
            "n11",
            "df",
            "chi2",
        )
    )


def readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row Flesch reading-ease components and score — the
    readability gate a quality pipeline stacks beside stopword/length
    heuristics (very low scores flag legalese/boilerplate, very high
    flag word-soup).  Counts are integers (whitespace words,
    ``[.!?]+``-delimited sentences, ``[aeiouy]+`` vowel groups as the
    syllable proxy), and the score itself is EXACT rational
    arithmetic: Flesch's constants are the rationals 206835/1000,
    1015/1000, 846/10, so

        score = (206835·s·w − 1015·w² − 84600·y·s) / (1000·s·w)

    in truncating 6-dp fixed point — bit-identical cross-engine, no
    float anywhere.  Rows with zero words or sentences are unscorable
    and return NULL.

    Returns ``df``'s columns plus ``n_words, n_sentences,
    n_syllable_groups, flesch_6dp`` — pure map-side expressions, no
    shuffle.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (text-quality family).
    """
    if text_col not in df.columns:
        raise ValueError(f"readability: unknown column {text_col!r}")
    t = F.col(text_col)
    w = F.size(
        F.filter(F.split(t, r"\s+"), lambda x: x != "")
    ).cast("long")
    s = F.size(
        F.filter(F.split(t, r"[.!?]+"), lambda x: F.trim(x) != "")
    ).cast("long")
    y = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(r"[aeiouy]+"), F.lit(0))
    ).cast("long")
    out = df.withColumns(
        {
            "n_words": F.when(t.isNotNull(), w),
            "n_sentences": F.when(t.isNotNull(), s),
            "n_syllable_groups": F.when(t.isNotNull(), y),
        }
    )
    # The numerator is computed in decimal(38,0): in BIGINT its
    # 206835·s·w·10⁶ term overflows (and raises under ANSI) once
    # s·w > ~4.46e7.  The quotient fits a long; ``div`` truncates toward
    # zero.
    f6 = F.expr(
        "CASE WHEN n_words > 0 AND n_sentences > 0 THEN"
        " ((206835 * CAST(n_sentences AS DECIMAL(38,0)) * n_words"
        "   - 1015 * CAST(n_words AS DECIMAL(38,0)) * n_words"
        "   - 84600 * CAST(n_syllable_groups AS DECIMAL(38,0)) * n_sentences)"
        "  * 1000000)"
        " div (1000 * n_sentences * n_words) ELSE NULL END"
    ).cast("long")
    return out.withColumn("flesch_6dp", f6)
