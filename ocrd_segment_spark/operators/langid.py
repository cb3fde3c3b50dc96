"""Character-n-gram language identification — the real replacement for
the round-2 en/de digram toy (operators/textstats.lang_id_col, kept for
API stability but no longer routing corpus_job drop decisions).

Method (public knowledge: Cavnar & Trenkle 1994 rank profiles, the
naive-Bayes char-n-gram family behind langid.py / CLD / fastText's
supervised mode): per language (11 shipped, four scripts), train a
mixed character 1+2-gram profile from a seeded fixture corpus; score
a document by add-one-smoothed log-likelihood under each language's
profile; predict the argmax.

Frozen semantics (the DuckDB oracle in contract_ml restates every step;
tests/test_langid.py pins behavior):

1. normalize: fold ASCII A-Z → a-z (ASCII ONLY — full Unicode lowercase
   differs between engines on Greek final sigma / Turkish dotted I, so
   it is excluded from the frozen rule; Cyrillic/Han pass through
   untouched and the profiles are trained with the same fold), collapse
   runs of ASCII whitespace [ \\t\\n\\r\\f\\v]+ to one space, trim
   spaces. Character units are CODE POINTS (DuckDB text[i] and Python
   slicing agree).
2. grams: all character UNIGRAMS plus all adjacent character BIGRAMS
   of the normalized text (Cavnar-Trenkle mixed-n profiles; the
   unigrams are what make Han-script coverage robust — ten seed
   sentences cover only ~150 Chinese bigram types, but their ~120
   character types blanket common text).
3. model: for every gram in the union vocabulary and every language,
   logp(g, l) = round(ln((cnt_l(g) + 1) / (total_l + V)), 8) where
   cnt_l(g) is the training count, total_l = sum of cnt_l over the
   vocabulary, V = vocabulary size. The model is DENSE (every vocab
   gram has a row for every language) so each language is charged the
   smoothing floor for grams it lacks — a sparse profile would REWARD
   languages that match fewer grams. Trained once in pure Python from
   the committed SEED_CORPUS; both the Spark scorer and the SQL oracle
   consume the identical rounded literals, so no cross-engine
   transcendental (ln) evaluation ever happens at query time.
4. score_l = left fold, over the document's IN-VOCABULARY distinct
   grams in ascending gram order, of n(g) * logp(g, l) starting from
   0.0 — the frozen-fold discipline (float addition is not
   associative; both engines fold the same order → bit-identical).
5. pred_lang = language of max (score, lang) — ties break to the
   lexicographically LARGEST language tag, matching max(ROW(s, lang));
   documents with NO in-vocabulary gram get pred_lang 'und' and a NULL
   score. Reported lang_logp = round(score, 6).
6. OPTIONAL abstention (round-5; ``margin=`` — default None keeps the
   pure-argmax contract of the standing lang_id_ngram key): the
   per-character top-2 gap ``(score_1 - score_2) / length(normalized)``
   below ``margin`` → pred_lang 'und', NULL logp. Rationale: any
   language OUTSIDE the 11-language inventory (most of the web) gets
   a confident argmax under pure naive-Bayes; a thin gap between the
   two best languages is exactly the low-evidence signature such
   documents produce (measured on HELDOUT_CORPUS: Korean gaps
   0.003-0.005/char vs in-inventory 0.1-3.6/char). DEFAULT_MARGIN is
   calibrated there: 41/44 in-inventory held-out accuracy, 8/12
   out-of-inventory sentences routed to 'und' (all pinned exactly in
   tests/test_langid.py — the model is frozen, so these are
   deterministic counts, not sampled estimates).

Scale shape: the model is a few thousand (gram, lang, logp) rows — a
closure constant, shipped once per executor like a broadcast; scoring
is one Arrow-batched mapInArrow pass, NARROW (zero shuffle, no join),
which is what lets jobs/corpus_job.py keep quality+lang scoring in the
single linear lineage after extraction (a relational explode/agg form
would need a url join back and re-run the extraction branch).

The reference has no language-id surface (it is page-complete); this is
part of the training-data-pipeline layer the engine adds (VERDICT r3
task 2).
"""

from __future__ import annotations

import math
import re
import string
from collections import Counter
from functools import lru_cache

from pyspark.sql import DataFrame, functions as F

_FOLD = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)
_WS = re.compile(r"[ \t\n\r\f\v]+")

# Seeded fixture corpus: short natural prose, composed for this module
# (11 languages, four scripts: Latin, Cyrillic, Han/kana, Arabic —
# incl. an RTL abjad). Kept deliberately lowercase-heavy; the ASCII
# fold handles sentence capitals. Adding a language = add sentences
# here and recompute the pinned model digest (tests/test_langid.py).
SEED_CORPUS: dict[str, list[str]] = {
    "en": [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "she opened the window and watched the rain fall on the quiet street",
        "we should have finished the report before the meeting this morning",
        "the children were playing in the garden while their parents cooked dinner",
        "there is nothing better than a warm cup of tea on a cold winter evening",
        "he could not remember where he had left the keys to the old house",
        "the library closes early on sundays so bring the books back tomorrow",
        "a long journey begins with a single step and a good pair of shoes",
        "they have been working on this project for more than three years now",
        "the weather forecast says it will be sunny with a light breeze all week",
    ],
    "de": [
        "der schnelle braune fuchs springt über den faulen hund am flussufer",
        "sie öffnete das fenster und sah dem regen auf der stillen strasse zu",
        "wir hätten den bericht vor der besprechung heute morgen fertigstellen sollen",
        "die kinder spielten im garten während ihre eltern das abendessen kochten",
        "es gibt nichts besseres als eine warme tasse tee an einem kalten winterabend",
        "er konnte sich nicht erinnern wo er die schlüssel des alten hauses gelassen hatte",
        "die bibliothek schliesst sonntags früh also bringe die bücher morgen zurück",
        "eine lange reise beginnt mit einem einzigen schritt und guten schuhen",
        "sie arbeiten seit mehr als drei jahren an diesem projekt",
        "der wetterbericht sagt sonniges wetter mit leichter brise für die ganze woche voraus",
    ],
    "fr": [
        "le rapide renard brun saute par dessus le chien paresseux près de la rivière",
        "elle ouvrit la fenêtre et regarda la pluie tomber sur la rue tranquille",
        "nous aurions dû terminer le rapport avant la réunion de ce matin",
        "les enfants jouaient dans le jardin pendant que leurs parents préparaient le dîner",
        "il n'y a rien de mieux qu'une tasse de thé chaud par un froid soir d'hiver",
        "il ne se souvenait plus où il avait laissé les clés de la vieille maison",
        "la bibliothèque ferme tôt le dimanche alors rapporte les livres demain",
        "un long voyage commence par un seul pas et une bonne paire de chaussures",
        "ils travaillent sur ce projet depuis plus de trois ans maintenant",
        "la météo annonce du soleil avec une brise légère toute la semaine",
    ],
    "es": [
        "el rápido zorro marrón salta sobre el perro perezoso cerca del río",
        "ella abrió la ventana y miró caer la lluvia sobre la calle tranquila",
        "deberíamos haber terminado el informe antes de la reunión de esta mañana",
        "los niños jugaban en el jardín mientras sus padres preparaban la cena",
        "no hay nada mejor que una taza de té caliente en una fría noche de invierno",
        "no podía recordar dónde había dejado las llaves de la casa vieja",
        "la biblioteca cierra temprano los domingos así que devuelve los libros mañana",
        "un largo viaje comienza con un solo paso y un buen par de zapatos",
        "llevan trabajando en este proyecto más de tres años",
        "el pronóstico dice que hará sol con una brisa ligera toda la semana",
    ],
    "it": [
        "la veloce volpe marrone salta sopra il cane pigro vicino al fiume",
        "lei aprì la finestra e guardò la pioggia cadere sulla strada tranquilla",
        "avremmo dovuto finire il rapporto prima della riunione di questa mattina",
        "i bambini giocavano in giardino mentre i genitori preparavano la cena",
        "non c'è niente di meglio di una tazza di tè caldo in una fredda sera d'inverno",
        "non riusciva a ricordare dove avesse lasciato le chiavi della vecchia casa",
        "la biblioteca chiude presto la domenica quindi riporta i libri domani",
        "un lungo viaggio comincia con un solo passo e un buon paio di scarpe",
        "lavorano a questo progetto da più di tre anni ormai",
        "le previsioni dicono che sarà soleggiato con una brezza leggera tutta la settimana",
    ],
    "ru": [
        "быстрая коричневая лиса прыгает через ленивую собаку у берега реки",
        "она открыла окно и смотрела как дождь падает на тихую улицу",
        "нам следовало закончить отчет до совещания сегодня утром",
        "дети играли в саду пока родители готовили ужин",
        "нет ничего лучше чашки горячего чая холодным зимним вечером",
        "он не мог вспомнить где оставил ключи от старого дома",
        "библиотека закрывается рано по воскресеньям так что верни книги завтра",
        "долгий путь начинается с одного шага и хорошей пары обуви",
        "они работают над этим проектом уже больше трех лет",
        "прогноз погоды обещает солнце и легкий ветер всю неделю",
    ],
    "zh": [
        "敏捷的棕色狐狸跳过了河边那只懒惰的狗",
        "她打开窗户看着雨落在安静的街道上",
        "我们应该在今天早上开会之前完成报告",
        "孩子们在花园里玩耍而父母在准备晚饭",
        "寒冷的冬夜没有什么比一杯热茶更好了",
        "他想不起来把老房子的钥匙放在哪里了",
        "图书馆星期天关门很早所以明天把书还回去",
        "长途旅行始于一步和一双好鞋",
        "他们在这个项目上已经工作了三年多",
        "天气预报说整个星期都是晴天还有微风",
    ],
    "pt": [
        "a rápida raposa marrom salta sobre o cão preguiçoso perto do rio",
        "ela abriu a janela e viu a chuva cair sobre a rua tranquila",
        "deveríamos ter terminado o relatório antes da reunião desta manhã",
        "as crianças brincavam no jardim enquanto os pais preparavam o jantar",
        "não há nada melhor do que uma xícara de chá quente numa noite fria",
        "ele não conseguia lembrar onde tinha deixado as chaves da casa velha",
        "a biblioteca fecha cedo aos domingos então devolva os livros amanhã",
        "uma longa viagem começa com um único passo e um bom par de sapatos",
        "eles trabalham neste projeto há mais de três anos",
        "a previsão diz que fará sol com uma brisa leve durante toda a semana",
    ],
    "pl": [
        "szybki brązowy lis skacze nad leniwym psem nad brzegiem rzeki",
        "otworzyła okno i patrzyła jak deszcz pada na cichą ulicę",
        "powinniśmy byli skończyć raport przed dzisiejszym porannym spotkaniem",
        "dzieci bawiły się w ogrodzie podczas gdy rodzice gotowali kolację",
        "nie ma nic lepszego niż filiżanka gorącej herbaty w zimowy wieczór",
        "nie mógł sobie przypomnieć gdzie zostawił klucze do starego domu",
        "biblioteka zamyka się wcześnie w niedziele więc oddaj książki jutro",
        "długa podróż zaczyna się od jednego kroku i dobrej pary butów",
        "pracują nad tym projektem już ponad trzy lata",
        "prognoza pogody zapowiada słońce i lekki wiatr przez cały tydzień",
    ],
    "ar": [
        "الثعلب البني السريع يقفز فوق الكلب الكسول قرب ضفة النهر",
        "فتحت النافذة وشاهدت المطر يتساقط على الشارع الهادئ",
        "كان ينبغي أن ننهي التقرير قبل اجتماع هذا الصباح",
        "كان الأطفال يلعبون في الحديقة بينما يعد الوالدان العشاء",
        "لا شيء أفضل من كوب شاي دافئ في ليلة شتاء باردة",
        "لم يستطع أن يتذكر أين ترك مفاتيح البيت القديم",
        "تغلق المكتبة مبكرا يوم الأحد فأعد الكتب غدا",
        "الرحلة الطويلة تبدأ بخطوة واحدة وحذاء جيد",
        "يعملون على هذا المشروع منذ أكثر من ثلاث سنوات",
        "النشرة الجوية تقول إن الطقس مشمس مع نسيم خفيف طوال الأسبوع",
    ],
    "ja": [
        "素早い茶色の狐が川辺の怠け者の犬を飛び越える",
        "彼女は窓を開けて静かな通りに降る雨を眺めていた",
        "今朝の会議の前に報告書を仕上げるべきだった",
        "子供たちは庭で遊び両親は夕食を作っていた",
        "寒い冬の夜には温かいお茶ほど良いものはない",
        "彼は古い家の鍵をどこに置いたか思い出せなかった",
        "図書館は日曜日は早く閉まるので明日本を返してください",
        "長い旅は一歩と良い靴から始まる",
        "彼らは三年以上このプロジェクトに取り組んでいる",
        "天気予報では今週はずっと晴れでそよ風が吹くそうだ",
    ],
}

TOP_N = 120  # grams kept per language profile (by count desc, gram asc)
UND = "und"  # prediction when no in-vocabulary gram appears
DEFAULT_MARGIN = 0.1  # frozen step-6 abstention threshold (per char)

# Held-out evaluation fixture: sentences NOT in SEED_CORPUS — four per
# language for the 11 in-inventory languages, plus three languages the
# model does NOT know (nl: Latin script adjacent to de/en, tr: Latin
# with agglutinative morphology, ko: Hangul — a script with ZERO vocab
# coverage beyond the space character). Composed for this module.
# Quality is MEASURED against this set (tests/test_langid.py pins the
# exact confusion counts; the langid_confusion contract key replays
# the scoring + margin rule through the DuckDB oracle).
HELDOUT_CORPUS: dict[str, list[str]] = {
    "en": [
        "my sister bought fresh bread and cheese at the market this afternoon",
        "the train arrived late because of heavy snow in the mountains",
        "please turn off the lights before you leave the office tonight",
        "our neighbors invited us to a small party in their backyard",
    ],
    "de": [
        "meine schwester kaufte heute nachmittag frisches brot und käse auf dem markt",
        "der zug kam wegen starken schneefalls in den bergen zu spät an",
        "bitte schalte das licht aus bevor du heute abend das büro verlässt",
        "unsere nachbarn haben uns zu einer kleinen feier in ihrem garten eingeladen",
    ],
    "fr": [
        "ma soeur a acheté du pain frais et du fromage au marché cet après midi",
        "le train est arrivé en retard à cause de la neige dans les montagnes",
        "veuillez éteindre les lumières avant de quitter le bureau ce soir",
        "nos voisins nous ont invités à une petite fête dans leur jardin",
    ],
    "es": [
        "mi hermana compró pan fresco y queso en el mercado esta tarde",
        "el tren llegó tarde por la fuerte nevada en las montañas",
        "por favor apaga las luces antes de salir de la oficina esta noche",
        "nuestros vecinos nos invitaron a una pequeña fiesta en su patio",
    ],
    "it": [
        "mia sorella ha comprato pane fresco e formaggio al mercato questo pomeriggio",
        "il treno è arrivato in ritardo a causa della forte neve in montagna",
        "per favore spegni le luci prima di lasciare l'ufficio stasera",
        "i nostri vicini ci hanno invitato a una piccola festa nel loro cortile",
    ],
    "ru": [
        "моя сестра купила свежий хлеб и сыр на рынке сегодня днем",
        "поезд опоздал из за сильного снегопада в горах",
        "пожалуйста выключи свет перед уходом из офиса сегодня вечером",
        "соседи пригласили нас на небольшой праздник в своем дворе",
    ],
    "zh": [
        "我妹妹今天下午在市场买了新鲜的面包和奶酪",
        "火车因为山里下大雪而晚点了",
        "离开办公室之前请把灯关掉",
        "邻居邀请我们去他们院子里参加一个小聚会",
    ],
    "pt": [
        "minha irmã comprou pão fresco e queijo no mercado esta tarde",
        "o trem chegou atrasado por causa da neve forte nas montanhas",
        "por favor apague as luzes antes de sair do escritório hoje à noite",
        "nossos vizinhos nos convidaram para uma pequena festa no quintal",
    ],
    "pl": [
        "moja siostra kupiła dziś po południu świeży chleb i ser na targu",
        "pociąg przyjechał późno z powodu silnych opadów śniegu w górach",
        "proszę zgaś światło zanim wyjdziesz dziś wieczorem z biura",
        "sąsiedzi zaprosili nas na małe przyjęcie na swoim podwórku",
    ],
    "ar": [
        "اشترت أختي خبزا طازجا وجبنا من السوق بعد ظهر اليوم",
        "تأخر القطار بسبب الثلوج الكثيفة في الجبال",
        "من فضلك أطفئ الأنوار قبل أن تغادر المكتب هذه الليلة",
        "دعانا الجيران إلى حفلة صغيرة في فنائهم",
    ],
    "ja": [
        "妹は今日の午後市場で新しいパンとチーズを買った",
        "山の大雪のせいで電車が遅れて着いた",
        "今夜オフィスを出る前に電気を消してください",
        "隣人が庭での小さなパーティーに私たちを招いてくれた",
    ],
    "nl": [
        "mijn zus kocht vanmiddag vers brood en kaas op de markt",
        "de trein kwam te laat door de zware sneeuw in de bergen",
        "doe alsjeblieft het licht uit voordat je vanavond het kantoor verlaat",
        "onze buren nodigden ons uit voor een feestje in hun achtertuin",
    ],
    "tr": [
        "kız kardeşim bu öğleden sonra pazardan taze ekmek ve peynir aldı",
        "tren dağlardaki yoğun kar yüzünden geç geldi",
        "lütfen bu akşam ofisten çıkmadan önce ışıkları kapat",
        "komşular bizi bahçelerindeki küçük bir partiye davet etti",
    ],
    "ko": [
        "내 여동생은 오늘 오후 시장에서 신선한 빵과 치즈를 샀다",
        "기차가 산의 폭설 때문에 늦게 도착했다",
        "오늘 밤 사무실을 나가기 전에 불을 꺼 주세요",
        "이웃들이 우리를 마당의 작은 파티에 초대했다",
    ],
}


def _round6(x: float) -> float:
    """round(x, 6) the way DuckDB rounds doubles (scale, add 0.5,
    floor — half away from zero). Python's built-in round is banker's
    AND decides from the exact binary value; the model's 8-decimal
    logp literals make sums that land exactly on a 1e-7 half common
    enough that the contract hit one on the first 500 docs."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def normalize(text: str) -> str:
    """Frozen step 1. ASCII-only case fold, ASCII-whitespace collapse,
    space trim — see the module docstring for why not full lower()."""
    return _WS.sub(" ", (text or "").translate(_FOLD)).strip(" ")


def _norm_codes(text: str):
    """``normalize(text)`` as an int64 CODEPOINT array — the identical
    sequence (fuzz-pinned by tests/test_langid.py), produced without
    building the intermediate string or re-encoding it (round-6: the
    scorer consumes codepoints anyway, so normalize-then-encode paid
    the regex pass plus a second UTF-32 conversion per doc). Rules
    vectorized 1:1: fold ASCII A-Z (+32), collapse runs of the six
    ASCII whitespace codes {9,10,11,12,13,32} to one space (keep the
    first of each run), then drop the at-most-one leading/trailing
    space a collapsed run can leave."""
    import numpy as np

    codes = np.frombuffer(
        (text or "").encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    if codes.size == 0:
        return codes
    codes = np.where((codes >= 65) & (codes <= 90), codes + 32, codes)
    ws = (codes == 32) | ((codes >= 9) & (codes <= 13))
    if ws.any():
        codes = np.where(ws, np.int64(32), codes)
        keep = np.ones(codes.size, dtype=bool)
        keep[1:] = ~(ws[1:] & ws[:-1])
        codes = codes[keep]
    s = 1 if codes.size and codes[0] == 32 else 0
    e = codes.size - 1 if codes.size - s > 0 and codes[-1] == 32 else codes.size
    return codes[s:e] if e > s else codes[:0]


def _grams(s: str) -> list[str]:
    """Frozen step 2: unigrams then bigrams (list order is irrelevant —
    scoring sorts the distinct grams)."""
    return list(s) + [s[i : i + 2] for i in range(len(s) - 1)]


@lru_cache(maxsize=1)
def train_profiles() -> tuple[tuple[str, str, float], ...]:
    """(gram, lang, logp) rows of the dense smoothed model — pure
    deterministic Python over SEED_CORPUS (no engine involved: the
    rounded literals are THE model, consumed identically by the Spark
    scorer and the DuckDB oracle)."""
    counts: dict[str, Counter] = {
        lang: Counter(g for s in sents for g in _grams(normalize(s)))
        for lang, sents in SEED_CORPUS.items()
    }
    vocab: set[str] = set()
    for lang, c in counts.items():
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_N]
        vocab.update(g for g, _ in top)
    v = len(vocab)
    rows: list[tuple[str, str, float]] = []
    for lang in sorted(counts):
        c = counts[lang]
        total = sum(c[g] for g in vocab)
        for g in sorted(vocab):
            rows.append(
                (g, lang, round(math.log((c[g] + 1) / (total + v)), 8))
            )
    return tuple(rows)


@lru_cache(maxsize=1)
def _scorer_tables() -> tuple[tuple[str, ...], dict[str, tuple[float, ...]]]:
    """(langs ascending, gram -> per-lang logp tuple) for the UDF."""
    rows = train_profiles()
    langs = tuple(sorted({l for _, l, _ in rows}))
    idx = {l: i for i, l in enumerate(langs)}
    model: dict[str, list[float]] = {}
    for g, l, p in rows:
        model.setdefault(g, [0.0] * len(langs))[idx[l]] = p
    return langs, {g: tuple(v) for g, v in model.items()}


@lru_cache(maxsize=1)
def _scorer_matrix():
    """Vectorized-scorer tables: model rows as one (|vocab|, |langs|)
    float64 matrix in ASCENDING-gram row order, plus sorted integer
    key arrays for unigrams (codepoint) and bigrams (cp1 << 21 | cp2 —
    codepoints < 2^21, so the packing is injective) with their row
    indices. Row order == sorted(gram) order, so sorting known ROW
    INDICES reproduces the frozen ascending-gram fold order exactly.

    IMPORTANT ordering subtlety: sorted() on gram STRINGS orders by
    codepoint sequence, and for the mixed 1/2-char vocabulary that is
    NOT the same as sorting the packed integers within a length class
    ("a" < "ab" < "b" interleaves lengths) — which is why membership
    maps to the string-sorted ROW index and the fold sorts row
    indices, never the packed keys."""
    import numpy as np

    langs, model = _scorer_tables()
    grams = sorted(model)
    mat = np.array([model[g] for g in grams], dtype=np.float64)
    uni = sorted((ord(g), i) for i, g in enumerate(grams) if len(g) == 1)
    bi = sorted(
        ((ord(g[0]) << 21) | ord(g[1]), i)
        for i, g in enumerate(grams)
        if len(g) == 2
    )
    uni_keys = np.array([k for k, _ in uni], dtype=np.int64)
    uni_rows = np.array([r for _, r in uni], dtype=np.int64)
    bi_keys = np.array([k for k, _ in bi], dtype=np.int64)
    bi_rows = np.array([r for _, r in bi], dtype=np.int64)
    return langs, uni_keys, uni_rows, bi_keys, bi_rows, mat


@lru_cache(maxsize=1)
def _uni_lut():
    """(lut, max_key): dense codepoint → (row index + 1) table for the
    unigram vocabulary (0 = not in vocab; index max_key+1 is the
    clipped-overflow slot and always 0). Lets _known_rows count
    unigram rows with one fancy-index + bincount instead of sorting
    the document's codepoints (round-6 addendum: −16 µs/doc measured
    on 1 KB docs). Size is max unigram codepoint + 2 — bounded by the
    seed corpus's scripts (~40k entries, one int64 table per process)."""
    import numpy as np

    _, uni_keys, uni_rows, _, _, _ = _scorer_matrix()
    max_key = int(uni_keys.max()) if uni_keys.size else 0
    lut = np.zeros(max_key + 2, dtype=np.int64)
    if uni_keys.size:
        lut[uni_keys] = uni_rows + 1
    return lut, max_key


def _known_rows(norm):
    """(row_indices, counts) of the normalized text's in-vocabulary
    grams, sorted by row index (== ascending gram order). Counts are
    exact occurrence counts — the same multiset as
    Counter(_grams(norm)) restricted to the vocabulary (pinned exactly
    by tests/test_langid.py). ``norm`` is either the normalized string
    or its codepoint array (:func:`_norm_codes`).

    Round-6 addendum shape: unigram rows count through the dense
    :func:`_uni_lut` + one ``bincount`` over global row ids (no sort
    of the document's codepoints); bigram rows keep the
    unique-then-searchsorted form (searchsorted over the SORTED
    distinct keys is ~10× faster than over the raw bigram sequence —
    numpy's galloping path for monotone needles); both merge in one
    dense count vector whose ``flatnonzero`` is already ascending-row
    order, replacing the concatenate+argsort merge. −16 µs/doc on
    1 KB docs; multiset output unchanged."""
    import numpy as np

    _, _, _, bi_keys, bi_rows, mat = _scorer_matrix()
    codes = (
        norm
        if isinstance(norm, np.ndarray)
        else np.frombuffer(norm.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
    )
    if codes.size == 0:
        return None, None
    lut, max_key = _uni_lut()
    # rows+1 per codepoint (0 = miss, incl. everything clipped onto the
    # always-zero overflow slot); bincount = dense per-row counts
    cnt = np.bincount(
        lut[np.minimum(codes, max_key + 1)], minlength=mat.shape[0] + 1
    )
    if codes.size >= 2:
        bg = (codes[:-1] << 21) | codes[1:]
        bv, bc = np.unique(bg, return_counts=True)
        pos = np.searchsorted(bi_keys, bv).clip(0, bi_keys.size - 1)
        m = bi_keys[pos] == bv
        if m.any():
            # distinct bigrams → unique row ids → += is well-defined
            cnt[bi_rows[pos[m]] + 1] += bc[m]
    cnt[0] = 0
    rows = np.flatnonzero(cnt)
    if rows.size == 0:
        return None, None
    return rows - 1, cnt[rows]


def score_document(
    text: str, margin: float | None = None
) -> tuple[str, float | None]:
    """(pred_lang, lang_logp) for one document — the single frozen
    implementation; the Spark operator maps it over Arrow batches and
    the oracle restates it in SQL. ``margin`` enables frozen step 6
    (per-char top-2 gap abstention); None keeps pure argmax —
    byte-identical to the pre-round-5 behavior the standing
    lang_id_ngram contract key pins.

    Implementation (round-6 perf, value-identical by construction and
    pinned by tests/test_langid.py): gram counting is vectorized —
    codepoint arrays + np.unique(return_counts) give the same exact
    integer counts as Counter(_grams(s)) (1-char and 2-char grams can
    never collide; the bigram key packs two codepoints injectively) —
    and the fold runs as numpy ``add.accumulate`` over the known
    grams' model rows in ascending gram order. accumulate is a strict
    sequential left fold (out[i] = out[i-1] + a[i]), and every
    contribution n·logp is strictly negative, so the [0.0]*L seed of
    the scalar loop adds nothing (0.0 + x == x for x != -0.0). The
    per-lang float-op sequence is therefore bit-identical to the
    original scalar loop."""
    import numpy as np

    tabs = _scorer_matrix()
    langs, mat = tabs[0], tabs[5]
    raw = text or ""
    # Both normalize forms yield the identical codepoint sequence
    # (fuzz-pinned); pick by cost: the C-regex string path wins on
    # short units (~2 vs ~19 µs at 10 chars — numpy per-call overhead),
    # the array path wins on document-sized text (no intermediate
    # string + re-encode). Break-even measured ~700 chars; the 512
    # cutover is conservative, so 512-700-char inputs take the array
    # path at a cost of a few µs/doc (same codepoints either way).
    if len(raw) >= 512:
        norm = _norm_codes(raw)
        nlen = norm.size
    else:
        norm = normalize(raw)
        nlen = len(norm)
    idx, cnt = _known_rows(norm)
    if idx is None:
        return UND, None
    contrib = cnt.astype(np.float64)[:, None] * mat[idx]
    scores = np.add.accumulate(contrib, axis=0)[-1]
    best_score, best_lang = max(zip(scores.tolist(), langs))
    if margin is not None:
        second = max(s for s, l in zip(scores.tolist(), langs) if l != best_lang)
        if (best_score - second) / nlen < margin:
            return UND, None
    return best_lang, _round6(best_score)


def with_lang_ngram(
    df: DataFrame,
    text_col: str = "text",
    python_parallelism: int | None = None,
    margin: float | None = None,
) -> DataFrame:
    """Append (pred_lang, lang_logp) to ``df`` — one narrow
    Arrow-batched pass (pystage.map_rows); every input column
    (including nested region_spans/lineage structs) passes through
    untouched, so jobs can chain it after extraction without branching
    the lineage."""
    # the fused extraction path (pipeline.extract_pages(lang_id=True))
    # appends the SAME fields — one source of truth for the pair
    from ..pipeline import LANG_FIELDS
    from ..pystage import map_rows

    def row(t):
        return score_document(t if isinstance(t, str) else "", margin=margin)

    return map_rows(
        df, df.columns, (text_col,), row, LANG_FIELDS, python_parallelism
    )


def heldout_values_sql() -> str:
    """HELDOUT_CORPUS as a SQL VALUES list (true_lang, sent_id, text)
    — the oracle-side twin of the confusion-matrix fixture."""
    return ", ".join(
        "('{}', {}, '{}')".format(lang, i, s.replace("'", "''"))
        for lang, sents in HELDOUT_CORPUS.items()
        for i, s in enumerate(sents)
    )


def model_values_sql() -> str:
    """The model as a SQL VALUES list — the oracle-side twin of the
    scorer's closure table (identical literals; '' escaping for the
    apostrophe grams French/Italian produce)."""
    return ", ".join(
        "('{}', '{}', {!r})".format(g.replace("'", "''"), l, p)
        for g, l, p in train_profiles()
    )


def with_unit_langs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    python_parallelism: int | None = None,
    margin: float | None = None,
) -> DataFrame:
    """(id, unit_idx, unit, pred_lang, lang_logp) — the document split
    on the literal ``sep`` (empty units dropped, the Bloom unit rule)
    and every unit scored under the SAME frozen model as the document
    pass. Mixed-language documents (boilerplate in one language
    wrapping content in another, comment sections, code-switching) are
    invisible to a document-level argmax — unit grain is where they
    show.

    Scale shape: the explode is scan-stage; the scoring pass is the
    same Arrow-batched mapInArrow pass as :func:`with_lang_ngram` applied
    at unit grain — total scoring work is unchanged (the model is
    O(chars) and the chars are the same ones), the row count is what
    grows, so cap it with ``python_parallelism`` exactly like the
    document pass."""
    import re as _re

    units = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("unit_idx", "unit"),
    ).filter(F.col("unit") != "")
    return with_lang_ngram(
        units,
        text_col="unit",
        python_parallelism=python_parallelism,
        margin=margin,
    )


def lang_mix_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    python_parallelism: int | None = None,
    margin: float | None = None,
) -> DataFrame:
    """(id, n_units, n_langs, majority_lang, majority_frac) per
    document over :func:`with_unit_langs` — the mixed-language /
    code-switching signal a curation pipeline filters or routes on
    (a doc whose units disagree about their language is usually
    boilerplate+content sandwich, not prose). Frozen majority rule:
    the (count, lang)-MAX struct — highest unit count wins, ties go
    to the lexicographically LARGEST language (a stated max, not an
    arbitrary engine order); majority_frac rounds to 6.

    Scale shape: one (id, lang) partial-count shuffle + one id-grain
    aggregate — both map-side combinable; no window."""
    per = (
        with_unit_langs(
            df,
            id_col=id_col,
            text_col=text_col,
            sep=sep,
            python_parallelism=python_parallelism,
            margin=margin,
        )
        .groupBy(id_col, "pred_lang")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        per.groupBy(id_col)
        .agg(
            F.sum("__n").alias("n_units"),
            F.countDistinct("pred_lang").alias("n_langs"),
            F.max(
                F.struct(
                    F.col("__n").alias("c"),
                    F.col("pred_lang").alias("lang"),
                )
            ).alias("__m"),
        )
        .select(
            id_col,
            "n_units",
            "n_langs",
            F.col("__m.lang").alias("majority_lang"),
            F.expr("round(__m.c * 1.0D / n_units, 6)").alias(
                "majority_frac"
            ),
        )
    )
