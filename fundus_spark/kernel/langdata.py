"""Function-word profiles + script ranges for deterministic language
identification.

The reference detects ``Article.lang`` with langdetect over any of its
publishers' languages (``src/fundus/scraping/article.py:96-112``);
langdetect is unavailable here, so detection is (a) Unicode-script
votes for non-Latin scripts and (b) function-word (stopword) density
votes for Latin-script languages. Both are deterministic and — for the
stopword part — expressible in ANSI SQL, so the corpus-level
``language_id`` operator keeps an exact DuckDB oracle.

Word lists are the highest-frequency *distinctive* function words per
language (hand-curated from public frequency lists); shared words were
pruned where they would systematically tie (e.g. 'de' appears in es/pt
/nl — kept only where the rest of the list dominates).
"""

from __future__ import annotations

from typing import Dict, FrozenSet, List, Tuple

# ordered: ties break toward the earlier entry (stable, SQL-expressible)
STOPWORDS: List[Tuple[str, FrozenSet[str]]] = [
    ("en", frozenset("the a an of and to in is it that was for on are as with his they at be this have from".split())),
    ("de", frozenset("der die das und ist ein eine zu den von mit im für auf des sich nicht werden dem".split())),
    ("es", frozenset("el la de que y en un una es se no los las por con para del al como".split())),
    ("fr", frozenset("le la les des un une et est dans que pour sur pas plus par au il ne ce".split())),
    ("it", frozenset("il la le di che e in un una è per non con del si da sono come".split())),
    ("pt", frozenset("o a os as de do da dos das que um uma em não para com por mais foi são".split())),
    ("nl", frozenset("de het een en van in is dat op te met voor aan er ook als maar bij naar".split())),
    ("da", frozenset("og i af er til det som på de med han den for at der ikke var sig om en et".split())),
    ("sv", frozenset("och att det som i på är av för med den till inte om han ett men var".split())),
    ("no", frozenset("og i det er som på til av at en for med om ikke den han et var".split())),
    ("pl", frozenset("w i na z że się nie do to jest o jak po są za od przez ale".split())),
    ("cs", frozenset("a se v na je že o s z do i k by ale jako za od která".split())),
    ("tr", frozenset("bir ve bu da de için ile olarak daha çok en gibi sonra kadar olan ne".split())),
    ("id", frozenset("yang dan di ini itu dengan untuk dari dalam pada tidak akan adalah ke juga oleh".split())),
    ("ro", frozenset("și în de la a cu pe este pentru care nu mai din sau dar fi o".split())),
    ("lt", frozenset("ir kad į iš yra su tai bet kaip apie buvo jau tik po metų".split())),
    ("is", frozenset("og að í á er um við sem til ekki var en því hann þá með".split())),
    # round-3 breadth (publisher-corpus languages langdetect covers):
    # appended at the END so tie-breaks for the established profiles
    # are unchanged. ms/id and zu/xh are sibling pairs resolved by
    # SIBLING_MARKERS below.
    ("sw", frozenset("na ya wa za la kwa ni katika cha kuwa kwamba hii lakini pia baada kati yake".split())),
    ("ms", frozenset("dan yang di ini itu dengan untuk dari dalam pada tidak akan adalah ke juga boleh kerana selepas".split())),
    ("zu", frozenset("ukuthi futhi ngoba uma noma kodwa lokhu khona manje kakhulu kanye nje lapho ngesikhathi".split())),
    ("xh", frozenset("ukuba kwaye ngoba xa kodwa oku kuba apha ngoku kakhulu kunye kuphela emva phambi".split())),
    # round-4 breadth: the remaining langdetect Latin-script languages
    # (langdetect profile set minus prior coverage), so the validated
    # `lang` attribute degrades gracefully on off-corpus CC-NEWS input.
    # Appended at the END — established profiles keep their tie-breaks.
    # Cross-profile shared words are pruned per the module convention
    # (e.g. fi/et share ja/on/ei; af shares most core words with nl —
    # those pairs keep only their distinctive words, and af/nl + cs/sk
    # get SIBLING_MARKERS below).
    ("fi", frozenset("että hän oli mutta myös ovat niin vain kun jos mukaan hänen sanoo jotka voi vuonna".split())),
    ("et", frozenset("et ta aga kui oma siis nagu välja üle ning juba kus selle tema või veel".split())),
    ("hu", frozenset("az és hogy nem egy meg már csak volt mint még vagy szerint ezt azt ha".split())),
    ("lv", frozenset("un ka par ar uz arī tika gada pēc tiek vairāk savu kas viņš bija lai".split())),
    ("sk", frozenset("sa je že som už aj pre ako podľa ale roku ktorý bol tento môže byť".split())),
    ("sl", frozenset("in je da se na za so bi pa tudi kot ki še bo lahko ni".split())),
    ("hr", frozenset("i u na je su od kao ali iz će bio nije biti ima još samo".split())),
    ("ca", frozenset("els amb què més però també fins molt dels seva aquest ha estat entre ja sobre".split())),
    ("sq", frozenset("dhe në të një për me nga është si më po ka do kjo këtë e".split())),
    ("af", frozenset("nie vir word hulle baie gesê ons teen oor sal wees jaar deur het dit".split())),
    ("cy", frozenset("yn y yr ei bod wedi gan am fod hefyd ond mae roedd hyn wrth".split())),
    ("so", frozenset("iyo oo ka ku ay waa uu loo soo kale laga waxaa ayaa inuu dhan".split())),
    ("tl", frozenset("ang ng sa na mga ay at para hindi ito kanyang mula noong ngunit din siya".split())),
]

STOPWORD_MAP: Dict[str, FrozenSet[str]] = dict(STOPWORDS)

# script ranges: (code, ranges) — first match with enough hits wins.
# uk vs ru disambiguation: characters unique to each orthography.
# Rows whose script is shared by several langdetect languages carry a
# second-stage discriminator: Devanagari (hi/mr/ne) by function-word
# substrings, Arabic script (ar/fa/ur) by orthography-unique letters,
# Cyrillic (ru/uk/bg/mk) by orthography-unique letters.
SCRIPT_RANGES: List[Tuple[str, str]] = [
    ("ja", "぀-ヿ"),  # hiragana + katakana
    ("ko", "가-힯ᄀ-ᇿ"),  # hangul
    ("zh", "一-鿿"),  # han (only after kana ruled out)
    ("he", "֐-׿"),
    ("el", "Ͱ-Ͽ"),
    ("th", "฀-๿"),
    ("hi", "ऀ-ॿ"),  # devanagari (hi default; mr/ne via markers below)
    ("bn", "ঀ-৿"),  # bengali
    ("pa", "਀-੿"),  # gurmukhi
    ("gu", "઀-૿"),  # gujarati
    ("ta", "஀-௿"),  # tamil
    ("te", "ఀ-౿"),  # telugu
    ("kn", "ಀ-೿"),  # kannada
    ("ml", "ഀ-ൿ"),  # malayalam
    ("ar", "؀-ۿ"),  # arabic script (ar default; fa/ur via letters below)
]

UK_CHARS = frozenset("іїєґІЇЄҐ")
RU_CHARS = frozenset("ыэъёЫЭЪЁ")
CYRILLIC_RANGE = ("Ѐ", "ӿ")
# Macedonian-unique Cyrillic letters (ѕ/ѓ/ќ exist in no other standard
# orthography; љ/њ/џ are shared with Serbian so excluded)
MK_CHARS = frozenset("ѕѓќЅЃЌ")
# Bulgarian: no unique letters, but ъ is a frequent VOWEL (~2-4% of
# letters) while Russian uses it only as a rare separator — so "ъ
# present, ы/э/ё absent" separates bg from ru deterministically.
BG_CHARS = frozenset("ъЪ")
RU_NOT_BG_CHARS = frozenset("ыэёЫЭЁ")

# Arabic-script discrimination: Urdu's retroflex/do-chashmi letters
# exist in neither Persian nor Arabic; Persian's four extra letters
# (پ چ ژ گ) exist in Urdu too, so Urdu must be checked FIRST.
UR_CHARS = frozenset("ٹڈڑںےہھۓ")
FA_CHARS = frozenset("پچژگ")

# Devanagari discrimination (hi/mr/ne share the script; langdetect
# separates them statistically): space-delimited function-word
# substrings unique to each language's prose.
DEVANAGARI_MARKERS: List[Tuple[str, Tuple[str, ...]]] = [
    ("mr", (" आहे", " आणि", " च्या", " मध्ये", " केली", " असून", " झाले")),
    ("ne", (" छ।", " छन्", " गरेको", " भएको", " लागि", " गर्दै", " रहेको")),
    ("hi", (" है", " और", " की", " में", " नहीं", " के लिए", " हैं")),
]

# Sibling-language discrimination: da/no (bokmål) share most function
# words, so the stopword vote ties on real Danish/Norwegian text. These
# marker sets hold orthography-divergent COGNATE PAIRS (af/av, hvad/hva,
# efter/etter, ...) — each list hits only its own language — plus the
# øj/øy digraph checked as a substring. langdetect separates the pair
# with character n-gram profiles; this is the deterministic from-scratch
# equivalent for the one Latin sibling pair in the publisher corpus.
SIBLING_MARKERS: List[Tuple[FrozenSet[str], Dict[str, FrozenSet[str]]]] = [
    (
        frozenset({"da", "no"}),
        {
            "da": frozenset(
                "af hvad efter ud op ind meget kun måske noget nogle "
                "vej nej sejr øjeblik mand mellem sådan tilbage arbejde".split()
            ),
            "no": frozenset(
                "av hva etter ut opp inn mye bare kanskje noe noen "
                "vei nei seier øyeblikk mann mellom slik tilbake arbeid".split()
            ),
        },
    ),
]

SIBLING_CHARGRAMS: List[Tuple[FrozenSet[str], Dict[str, Tuple[str, ...]]]] = [
    (frozenset({"da", "no"}), {"da": ("øj",), "no": ("øy",)}),
]

_EXTRA_SIBLINGS = [
    # Indonesian/Malay: shared core function words; divergent cognates
    (
        frozenset({"id", "ms"}),
        {
            "id": frozenset("bisa karena setelah kantor pemerintah uang senin".split()),
            "ms": frozenset("boleh kerana selepas pejabat kerajaan wang isnin".split()),
        },
    ),
    # Zulu/Xhosa: shared Nguni core; divergent function words
    (
        frozenset({"zu", "xh"}),
        {
            "zu": frozenset("ukuthi futhi uma manje kanye lokhu lapho".split()),
            "xh": frozenset("ukuba kwaye xa ngoku kunye oku apha".split()),
        },
    ),
    # Czech/Slovak: shared West-Slavic core; orthography-divergent
    # cognates (když/keď, ještě/ešte, protože/pretože, řekl/povedal)
    (
        frozenset({"cs", "sk"}),
        {
            "cs": frozenset("když ještě protože také řekl které jsou jsem byl být".split()),
            "sk": frozenset("keď ešte pretože tiež povedal ktoré sú som bol byť".split()),
        },
    ),
    # Afrikaans/Dutch: af evolved from nl and shares most core function
    # words; divergent cognates (nie/niet, gesê/gezegd, word/wordt)
    (
        frozenset({"af", "nl"}),
        {
            "af": frozenset("nie hulle baie gesê word sal wees hierdie geword teen".split()),
            "nl": frozenset("niet zij veel gezegd wordt zullen zijn deze geworden tegen".split()),
        },
    ),
]
SIBLING_MARKERS.extend(_EXTRA_SIBLINGS)

# Vietnamese: Latin script with unique diacritics (both cases — ALL-CAPS
# headlines must still hit the script vote; there is no vi Latin
# stopword profile to fall back to)
_VI_LOWER = "ăâđêôơưạảấầẩẫậắằẳẵặẹẻẽếềểễệịỉĩọỏốồổỗộớờởỡợụủứừửữựỳỵỷỹ"
VI_CHARS = frozenset(_VI_LOWER + _VI_LOWER.upper())
