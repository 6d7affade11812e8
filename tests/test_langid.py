"""Unit tests: heuristic language id (functions/langid)."""

from pdf_extract_spark.functions import langid


class TestGate:
    def test_short_line_not_detectable(self):
        assert langid.can_detect("short") is False

    def test_digits_punct_stripped(self):
        assert langid.can_detect("123 456 789 !!! ??? ...") is False

    def test_long_sentence_detectable(self):
        assert langid.can_detect(
            "this is a sentence with more than ten words in it for sure"
        ) is True


class TestDetect:
    def test_english(self):
        assert langid.detect(
            "the quick brown fox jumps over the lazy dog and it was not the end"
        ) == "en"

    def test_spanish(self):
        assert langid.detect(
            "el perro corre por la calle y los gatos duermen en la casa de su amigo"
        ) == "es"

    def test_german(self):
        assert langid.detect(
            "der hund läuft durch die stadt und die katze schläft in dem haus von einem freund"
        ) == "de"

    def test_french(self):
        assert langid.detect(
            "le chien court dans la rue et les chats dorment dans la maison de son ami"
        ) == "fr"

    def test_cyrillic_script(self):
        assert langid.detect("собака бежит по улице и кошки спят в доме") == "ru"

    def test_chinese_script(self):
        assert langid.detect("狗在街上跑猫在房子里睡觉这是一个测试句子") == "zh"

    def test_gibberish_none(self):
        assert langid.detect("zzz qqq xxx vvv kkk jjj www yyy") is None

    def test_reliable_gated(self):
        assert langid.detect_reliable("the cat") is None  # too short


def test_extended_language_coverage():
    from pdf_extract_spark.functions.langid import detect

    cases = {
        "pl": "w tym roku nie było to jednak tak łatwe jak się przez "
              "wiele lat wydawało że jest dla nas",
        "sv": "och det är en av de viktigaste frågorna som vi har att "
              "ta ställning till i år för att",
        "da": "og det er en af de vigtigste ting som vi skal tage "
              "stilling til når vi ikke har et",
        "ro": "în acest an nu a fost la fel de ușor cum se credea că "
              "este pentru noi și pentru care",
        "tr": "bu yıl için en önemli konulardan bir tanesi de bu "
              "olarak daha çok ve ne kadar ile",
        "fi": "ja se on yksi tärkeimmistä asioista joka meidän on "
              "otettava huomioon kun ei ole myös niin",
        "hu": "és ez az egyik legfontosabb kérdés hogy nem csak egy "
              "meg volt ha de el ki mint még",
        "th": "ภาษาไทยเป็นภาษาราชการของประเทศไทยและมีผู้พูดหลายสิบล้านคน",
        "hi": "हिन्दी भारत की आधिकारिक भाषाओं में से एक है और करोड़ों लोग इसे बोलते हैं",
    }
    for lang, text in cases.items():
        assert detect(text) == lang, (lang, detect(text))


def test_latin_breadth():
    """Round-2 cld3-breadth tranche: 30 Latin-script languages route
    correctly on stopword-dense lines."""
    from pdf_extract_spark.functions.langid import detect

    cases = {
        "no": "og det er en av de viktigste sakene som vi skal være med "
              "på når denne ble etter hvor noe",
        "id": "yang dan di dengan untuk tidak dari dalam akan pada juga "
              "ini itu adalah karena mereka sudah lebih",
        "vi": "của và là có không được trong cho người những với một này "
              "để khi đã các về như cũng",
        "ca": "de la que els i una per amb no és del al més com hi ha són "
              "aquest aquesta dels seva també",
        "hr": "je i u na se da za su od kao što ali iz ili bi biti će "
              "samo kada nije ima vrlo koji godine",
        "sk": "a sa na v je že o z do ako ale po za bol sú bolo jeho pri "
              "ktorý však pre od alebo podľa už môže aj keď",
        "sl": "je in na za se da so z v ki pa po tudi kot če še lahko "
              "med bi ni bilo iz pri do njegov ter",
        "lt": "ir yra kad į su tai iš bet kaip buvo už taip pat apie po "
              "metų jau gali dar tik labai visi kurie",
        "lv": "un ir ka par ar no uz to kā arī bet tika var šī tas vai "
              "pēc gada savu viņš bija būt ļoti visi",
        "et": "ja on et ei ka see oli kui aga oma mis seda nagu välja "
              "üle kõik siis ning sest selle olid",
        "sq": "dhe të në për një me nga që është se si më këtë ka do por "
              "janë këto ishte kjo shumë pas",
        "eu": "eta da ez du zen dira izan ere baina hau horrek bere egin "
              "behar dela baita edo zer nola oso",
        "af": "die van het in is nie dat om ek sy was hy met vir op aan "
              "wat ons by dit as haar hulle jy",
        "sw": "na ya wa kwa ni za katika la kuwa hii ili kama pia "
              "kwamba yake hiyo watu hata wakati sasa lakini",
        "tl": "ang ng sa na mga ay at ito para hindi siya ako kanyang "
              "niya ko kung naman lang din nila",
    }
    for lang, text in cases.items():
        assert detect(text) == lang, (lang, detect(text))


def test_cyrillic_disambiguation():
    from pdf_extract_spark.functions.langid import detect

    # Ukrainian: distinctive і ї є ґ
    assert detect("він сказав що це є дуже важливо для нашої країни і її людей") == "uk"
    # Serbian: distinctive ђ ћ џ љ њ
    assert detect("он ће рећи да је то веома важно за људе у нашој земљи and ђаци") == "sr"
    # Bulgarian: stopword vote (че, това, къде, като, ще)
    assert detect("той каза че това е много важно за нас и ще бъде като преди") == "bg"
    # Russian default
    assert detect("собака бежит по улице и кошки спят в доме но это не важно") == "ru"


def test_arabic_script_disambiguation():
    from pdf_extract_spark.functions.langid import detect

    assert detect("هذا النص مكتوب باللغة العربية وهو يتحدث عن أشياء كثيرة") == "ar"
    # Persian: distinctive پ گ چ ژ
    assert detect("این متن به زبان فارسی نوشته شده است و درباره چیزهای گوناگون پژوهش می‌گوید") == "fa"
    # Urdu: distinctive ے ہ ٹ ں
    assert detect("یہ تحریر اردو زبان میں لکھی گئی ہے اور بہت سی چیزوں کے بارے میں ہے") == "ur"


def test_indic_and_other_scripts():
    from pdf_extract_spark.functions.langid import detect

    cases = {
        "bn": "বাংলা ভাষা দক্ষিণ এশিয়ার একটি গুরুত্বপূর্ণ ভাষা এবং কোটি মানুষ এতে কথা বলে",
        "ta": "தமிழ் மொழி உலகின் மிகப் பழமையான மொழிகளில் ஒன்றாகும் மேலும் பலர் பேசுகின்றனர்",
        "te": "తెలుగు భాష భారతదేశంలోని ముఖ్యమైన భాషలలో ఒకటి మరియు చాలా మంది మాట్లాడతారు",
        "kn": "ಕನ್ನಡ ಭಾಷೆ ಕರ್ನಾಟಕದ ಅಧಿಕೃತ ಭಾಷೆಯಾಗಿದೆ ಮತ್ತು ಹಲವರು ಮಾತನಾಡುತ್ತಾರೆ",
        "ml": "മലയാളം കേരളത്തിന്റെ ഔദ്യോഗിക ഭാഷയാണ് കൂടാതെ ധാരാളം ആളുകൾ സംസാരിക്കുന്നു",
        "gu": "ગુજરાતી ભાષા ગુજરાતની અધિકૃત ભાષા છે અને ઘણા લોકો બોલે છે",
        "pa": "ਪੰਜਾਬੀ ਭਾਸ਼ਾ ਪੰਜਾਬ ਦੀ ਅਧਿਕਾਰਤ ਭਾਸ਼ਾ ਹੈ ਅਤੇ ਬਹੁਤ ਲੋਕ ਬੋਲਦੇ ਹਨ",
        "si": "සිංහල භාෂාව ශ්‍රී ලංකාවේ නිල භාෂාවකි සහ බොහෝ දෙනෙක් කතා කරති",
        "ka": "ქართული ენა საქართველოს ოფიციალური ენაა და ბევრი ადამიანი საუბრობს",
        "hy": "հայերենը հայաստանի պաշտոնական լեզուն է և շատ մարդիկ են խոսում",
        "am": "አማርኛ የኢትዮጵያ ሥራ ቋንቋ ነው እና ብዙ ሰዎች ይናገራሉ",
        "km": "ភាសាខ្មែរ គឺជាភាសាផ្លូវការរបស់កម្ពុជា ហើយមនុស្សជាច្រើននិយាយ",
        "lo": "ພາສາລາວເປັນພາສາທາງການຂອງປະເທດລາວ ແລະ ມີຄົນເວົ້າຫຼາຍ",
        "my": "မြန်မာဘာသာသည် မြန်မာနိုင်ငံ၏ ရုံးသုံးဘာသာစကားဖြစ်သည် လူများစွာ ပြောဆိုကြသည်",
        "ja": "これは日本語のテストですたくさんのひとがはなしています",
        "ko": "한국어는 대한민국의 공용어이며 많은 사람들이 사용합니다",
        "el": "η ελληνικη γλωσσα ειναι μια απο τις αρχαιοτερες γλωσσες του κοσμου",
        "he": "השפה העברית היא השפה הרשמית של מדינת ישראל ורבים מדברים בה",
    }
    for lang, text in cases.items():
        assert detect(text) == lang, (lang, detect(text))


def test_coverage_count():
    """≥30 distinct detectable languages (VERDICT r1 item 3 done-bar)."""
    from pdf_extract_spark.functions import langid

    n_latin = len(langid._STOPWORDS)
    n_script = len([c for c, _ in langid._SCRIPT_RANGES if not c.startswith("@")])
    n_cyr = len(langid._CYR_STOPWORDS)
    assert n_latin >= 30
    assert n_latin + n_script + n_cyr + 3 >= 50  # +3 = ar/fa/ur


def test_mixed_language_doc_majority(spark):
    """A3 majority on a multilingual synthetic doc: per-line langs feed
    the doc-level mode + distribution."""
    from pdf_extract_spark.functions.langid import detect_reliable

    lines = [
        "the quick brown fox jumps over the lazy dog and it was not the end",
        "this is another english sentence with more than ten words in it",
        "and a third english line that should be detected as english too",
        "el perro corre por la calle y los gatos duermen en la casa de su amigo",
        "собака бежит по улице и кошки спят в доме но это не важно",
    ]
    langs = [detect_reliable(t) for t in lines]
    assert langs == ["en", "en", "en", "es", "ru"]
    counts: dict[str, int] = {}
    for l in langs:
        counts[l] = counts.get(l, 0) + 1
    assert max(counts.items(), key=lambda kv: kv[1])[0] == "en"


def test_natural_sentences():
    """Detection on NATURAL sentences (not stopword-dense synthetics) —
    the accuracy shape a real multilingual corpus exercises."""
    from pdf_extract_spark.functions.langid import detect

    cases = {
        "en": "The committee approved the proposal after a long discussion yesterday evening",
        "es": "El gobierno anunció nuevas medidas económicas para apoyar a las familias del país",
        "fr": "Le gouvernement a annoncé de nouvelles mesures pour soutenir les familles du pays",
        "de": "Die Regierung hat gestern neue Maßnahmen zur Unterstützung der Familien angekündigt",
        "it": "Il governo ha annunciato nuove misure per sostenere le famiglie del paese",
        "pt": "O governo anunciou novas medidas para apoiar as famílias do país inteiro",
        "nl": "De regering heeft gisteren nieuwe maatregelen aangekondigd om gezinnen te steunen",
        "pl": "Rząd ogłosił wczoraj nowe środki wsparcia dla rodzin w całym kraju",
        "sv": "Regeringen meddelade igår nya åtgärder för att stödja familjer i hela landet",
        "ro": "Guvernul a anunțat ieri noi măsuri pentru a sprijini familiile din întreaga țară",
        "tr": "Hükümet dün ailelere destek olmak için yeni önlemler açıkladı ve daha fazla",
        "cs": "Vláda včera oznámila nová opatření na podporu rodin v celé zemi",
        "fi": "Hallitus ilmoitti eilen uusista toimista perheiden tukemiseksi koko maassa",
        "hu": "A kormány tegnap új intézkedéseket jelentett be a családok támogatására az egész országban",
        "id": "Pemerintah kemarin mengumumkan langkah baru untuk mendukung keluarga di seluruh negeri",
        "vi": "Chính phủ đã công bố các biện pháp mới để hỗ trợ các gia đình trên cả nước",
    }
    for lang, s in cases.items():
        assert detect(s) == lang, (lang, detect(s))


def test_natural_sentences_cyrillic_arabic():
    """Natural sentences through the script sub-votes: Persian keheh /
    farsi-yeh vs Arabic kaf/yeh; Bulgarian vowel-ъ vs Russian ы/э/ё."""
    from pdf_extract_spark.functions.langid import detect

    cases = {
        "ru": "Правительство вчера объявило о новых мерах поддержки семей по всей стране",
        "uk": "Уряд учора оголосив про нові заходи підтримки сімей по всій країні",
        "bg": "Държавата обяви нови мерки за подкрепа на семействата в цялата страна",
        "sr": "Влада је јуче објавила нове мере подршке породицама широм земље",
        "ar": "أعلنت الحكومة أمس عن تدابير جديدة لدعم الأسر في جميع أنحاء البلاد",
        "fa": "دولت دیروز تدابیر جدیدی برای حمایت از خانواده‌ها در سراسر کشور اعلام کرد",
        "ur": "حکومت نے کل ملک بھر میں خاندانوں کی مدد کے لیے نئے اقدامات کا اعلان کیا",
    }
    for lang, s in cases.items():
        assert detect(s) == lang, (lang, detect(s))


def test_natural_sentences_second_tier():
    """Natural sentences for the harder second-tier Latin languages
    (near-identical stopword pairs disambiguated by orthography
    refinements and language-specific adverbs)."""
    from pdf_extract_spark.functions.langid import detect

    cases = {
        "da": "Regeringen meddelte i går nye tiltag for at støtte familier i hele landet",
        "no": "Regjeringen kunngjorde i går nye tiltak for å støtte familier over hele landet",
        "hr": "Vlada je jučer objavila nove mjere potpore obiteljima diljem zemlje",
        "sk": "Vláda včera oznámila nové opatrenia na podporu rodín v celej krajine",
        "sl": "Vlada je včeraj objavila nove ukrepe za podporo družinam po vsej državi",
        "lt": "Vyriausybė vakar paskelbė naujas priemones šeimoms remti visoje šalyje",
        "lv": "Valdība vakar paziņoja par jauniem pasākumiem ģimeņu atbalstam visā valstī",
        "et": "Valitsus teatas eile uutest meetmetest perede toetamiseks kogu riigis",
        "ca": "El govern va anunciar ahir noves mesures per donar suport a les famílies del país",
        "sq": "Qeveria njoftoi dje masa të reja për të mbështetur familjet në të gjithë vendin",
        "af": "Die regering het gister nuwe maatreëls aangekondig om gesinne regoor die land te ondersteun",
        "sw": "Serikali ilitangaza jana hatua mpya za kusaidia familia kote nchini",
        "eu": "Gobernuak atzo neurri berriak iragarri zituen herrialde osoko familiei laguntzeko",
        "tl": "Inanunsyo ng pamahalaan kahapon ang mga bagong hakbang upang suportahan ang mga pamilya",
    }
    for lang, s in cases.items():
        assert detect(s) == lang, (lang, detect(s))


def test_round3_midtail_battery():
    """Round-3 cld3-breadth tranche: mid-tail languages on natural
    news-register sentences — new Latin stopword sets, Cyrillic
    distinctive-letter chain (be/kk/ky/mn/tg/mk), Arabic-script
    ps/ug/sd, the Devanagari hi/mr/ne sub-vote, and the Odia/Thaana/
    Tibetan script ranges."""
    from pdf_extract_spark.functions.langid import detect

    cases = {
        # Latin-script stopword languages
        "az": "Hökumət dünən ölkə üzrə ailələrə dəstək üçün yeni tədbirlər elan etdi və bu tədbirlər hər kəs üçün vacibdir",
        "uz": "Hukumat kecha oilalarni qollab quvvatlash uchun yangi chora tadbirlarni elon qildi va bu juda muhim edi",
        "ms": "Langkah itu ialah antara yang paling penting kerana ia boleh membantu keluarga selepas kerajaan semalam mengumumkan perkara berkenaan",
        "ga": "D'fhógair an rialtas bearta nua inné chun tacú le teaghlaigh ar fud na tíre agus bhí sé an-tábhachtach",
        "cy": "Cyhoeddodd y llywodraeth fesurau newydd ddoe i gefnogi teuluoedd ar draws y wlad ac roedd hyn yn bwysig iawn",
        "is": "Ríkisstjórnin tilkynnti í gær um nýjar aðgerðir til að styðja fjölskyldur um allt landið og það er mjög mikilvægt",
        "mt": "Il-gvern ħabbar ilbieraħ miżuri ġodda biex jgħin lill-familji madwar il-pajjiż u dan kien importanti ħafna",
        "gl": "Onte o goberno anunciou unha serie de medidas e hoxe xa non hai máis dúbidas porque tamén se falou moito",
        "eo": "La registaro hieraŭ anoncis novajn paŝojn por subteni familiojn kaj tio estas tre grava por ĉiuj en la tuta lando",
        "la": "Senatus populusque Romanus haec omnia cum magna cura egit et non sine causa quod etiam in rebus difficilibus",
        "so": "Dowladda ayaa shalay ku dhawaaqday tallaabooyin cusub si ay u taageerto qoysaska dalka oo dhan waana arrin aad muhiim ah",
        "ha": "Gwamnati ta sanar jiya cewa za ta dauki sabbin matakai domin taimakawa iyalai a fadin kasar baki daya kuma wannan yana da muhimmanci",
        "yo": "Ìjọba kéde àwọn ìgbésẹ̀ tuntun ní àná láti ṣe ìrànlọ́wọ́ fún àwọn ìdílé ní gbogbo orílẹ̀ èdè àti pé ó ṣe pàtàkì",
        "ig": "Gọọmenti kwuru na ndị mmadụ ga enweta enyemaka maka ezinụlọ niile taa ma ọ bụ echi nke ka mma",
        "zu": "Uhulumeni umemezele izolo ukuthi uzokwenza okuningi ukusiza imindeni futhi lokhu kubalulekile kakhulu ngoba abantu abaningi manje",
        "mg": "Nanambara ny governemanta omaly fa hisy fepetra vaovao hanampiana ny fianakaviana ary efa tokoa izany no tena ilaina androany",
        "ht": "Gouvènman an te anonse yè jodi a gen nouvo mezi pou ede tout fanmi yo nan peyi a epi sa enpòtan anpil",
        "lb": "D'Regierung huet gëschter nei Moossname matgedeelt fir de Famillen am ganze Land ze hëllefen an dat ass haut ganz wichteg",
        "fy": "It regear hat juster nije maatregels oankundige wylst hiele famyljes hjoed tige wiis binne neffens harren buorlju",
        "mi": "I kōrero te kāwanatanga inanahi mō ngā mahi hou hei tautoko i ngā whānau puta noa i te motu engari kei te pai",
        "sn": "Hurumende yakazivisa nezuro kuti vanhu vose vachawana rubatsiro uye izvi zvinokosha zvikuru nhasi asi kana zvichinge zvaitwa",
        # Cyrillic distinctive-letter chain
        "be": "Урад учора абвясціў аб новых мерах падтрымкі сямей па ўсёй краіне і гэта вельмі важна ў бліжэйшы час",
        "kk": "Үкімет кеше елдегі отбасыларды қолдау үшін жаңа шаралар туралы хабарлады және бұл өте маңызды",
        "ky": "Өкмөт кечээ жаңы чараларды жарыялады жана булар элдин алдыңкы муктаждыктарына багытталган",
        "mn": "Засгийн газар өчигдөр гэр бүлүүдийг дэмжих шинэ арга хэмжээ зарлалаа гэж мэдэгдсэн бөгөөд энэ нь маш чухал юм",
        "tg": "Ҳукумат дирӯз чораҳои наверо барои дастгирии оилаҳо дар саросари кишвар эълон кард ва ин хеле муҳим аст",
        "mk": "Владата вчера објави нови мерки за поддршка на семејствата во целата земја и таа ќе одлучи што ќе се случи",
        # Arabic-script sub-classification
        "ps": "حکومت پرون د کورنیو د ملاتړ لپاره نوي ګامونه اعلان کړل او دا ډېر مهم دي",
        "ug": "ھۆكۈمەت تۈنۈگۈن پۈتۈن دۆلەت بويىچە ئائىلىلەرنى قوللاش ئۈچۈن يېڭى تەدبىرلەرنى ئېلان قىلدى",
        "sd": "حڪومت ڪالهه سڄي ملڪ ۾ خاندانن جي مدد لاءِ نوان قدم کنيا ۽ اهو ڏاڍو ضروري آهي",
        # Devanagari sub-vote (hi stays the default; see hi cases above)
        "mr": "सरकारने काल कुटुंबांच्या मदतीसाठी नवीन उपाययोजना जाहीर केली आहे आणि हे खूप महत्त्वाचे आहे असे अनेकांनी म्हटले",
        "ne": "सरकारले हिजो परिवारहरूलाई सहयोग गर्न नयाँ कदमहरू घोषणा गरेको छ र यो धेरै महत्त्वपूर्ण छ भनिएको छ",
        # new single-language scripts
        "or": "ଓଡ଼ିଆ ଭାଷା ଓଡ଼ିଶାର ସରକାରୀ ଭାଷା ଅଟେ ଏବଂ ବହୁ ଲୋକ କଥା ହୁଅନ୍ତି",
        "dv": "ދިވެހި ބަހަކީ ދިވެހިރާއްޖޭގެ ރަސްމީ ބަހެވެ އަދި ގިނަ ބަޔަކު ވާހަކަ ދައްކަނީ",
        "bo": "བོད་སྐད་ནི་བོད་ཀྱི་རྒྱུན་སྤྱོད་སྐད་ཡིག་ཡིན་ཞིང་མི་མང་པོས་བཤད་ཀྱིན་ཡོད",
    }
    for lang, text in cases.items():
        assert detect(text) == lang, (lang, detect(text))


def test_new_distinctives_do_not_steal_russian():
    """ru sentences (incl. ё/ы/э) still route ru through the longer
    Cyrillic distinctive chain."""
    from pdf_extract_spark.functions.langid import detect

    assert detect("Он совсем ещё молодой человек и это не так уж важно "
                  "для всей этой истории") == "ru"


def test_coverage_count_75():
    """≥75 distinct detectable languages (VERDICT r2 item 4 done-bar)."""
    from pdf_extract_spark.functions import langid

    n_latin = len(langid._STOPWORDS)
    n_script = len([c for c, _ in langid._SCRIPT_RANGES
                    if not c.startswith("@")])
    n_cyr = len({c for c, _, _ in langid._CYR_DISTINCT}
                | set(langid._CYR_STOPWORDS))
    n_arab = len({c for c, _ in langid._ARAB_DISTINCT}) + 1  # + ar
    n_dev = len(langid._DEV_STOPWORDS)
    total = n_latin + n_script + n_cyr + n_arab + n_dev
    assert n_latin >= 50
    assert total >= 75, total


def test_round3_midtail_second_sentences():
    """A second, structurally different natural sentence per
    collision-prone new language (ms vs id, gl vs pt/es, fy vs nl,
    az vs tr, lb vs de, …) — guards against single-sentence overfit."""
    from pdf_extract_spark.functions.langid import detect

    cases = {
        "ms": "Beliau berkata bahawa projek itu amat penting kerana ia boleh membantu ramai penduduk selepas bencana semalam",
        "gl": "A xente tamén sabe que onte non había máis tempo e hoxe xa se pode facer todo dende a casa",
        "fy": "It wie juster al let doe't hja hjoed wer tige bliid wiene neffens it nijs yn de hiele provinsje",
        "az": "Dünən axşam hər kəs üçün vacib olan bu görüş barədə məlumat verildi və görüş çox uğurlu keçdi",
        "uz": "Kecha shahar markazida juda katta tadbir bo'lib o'tdi va unga barcha yoshlar ham kelishdi deb aytildi",
        "ht": "Yè swa tout moun te vin wè sa ki te pase nan gran lakou a epi yo te rete la jiska aswè",
        "lb": "Gëschter war et nach net kloer mä haut ass alles schonn anescht an d'Leit sinn elo ganz frou",
        "mi": "I te ata nei ka haere ngā tamariki ki te kura engari kei te ua tonu ināianei",
        "cy": "Roedd y plant wedi mynd i'r ysgol ddoe ond mae pawb yn aros gartref heddiw gyda'r teulu",
        "is": "Það var mjög kalt í gær en núna eru allir komnir heim og það er gott að vera inni",
        "so": "Shalay waxaa la qabtay kulan weyn oo ay ka soo qayb galeen dad badan maanta ayaana la sii wadi doonaa",
        "eo": "Hieraŭ la infanoj ludis en la parko kaj hodiaŭ ili estas tre felicaj kun siaj amikoj",
    }
    for lang, s in cases.items():
        assert detect(s) == lang, (lang, detect(s))


def test_pointed_hebrew_is_not_yiddish():
    """Ordinary niqqud (patah/qamats/…) is NOT Yiddish evidence —
    pointed Hebrew (Bibles, prayer books, children's books) is a common
    PDF corpus and must stay ``he``; Yiddish is decided by its
    exclusive ligatures, rafe, or Germanic function words."""
    from pdf_extract_spark.functions.langid import detect

    pointed_he = [
        "בְּרֵאשִׁית בָּרָא אֱלֹהִים אֵת הַשָּׁמַיִם וְאֵת הָאָרֶץ׃",
        "וַיֹּאמֶר אֱלֹהִים יְהִי אוֹר וַיְהִי־אוֹר׃ וַיַּרְא אֱלֹהִים אֶת־הָאוֹר כִּי־טוֹב׃",
        "שְׁמַע יִשְׂרָאֵל יְהוָה אֱלֹהֵינוּ יְהוָה אֶחָד וְאָהַבְתָּ אֵת יְהוָה אֱלֹהֶיךָ בְּכָל־לְבָבְךָ",
    ]
    for s in pointed_he:
        assert detect(s) == "he", (s, detect(s))
    # unpointed, ligature-free (Soviet-orthography) Yiddish still
    # routes via the function-word vote
    soviet_yi = (
        "יעדער מענטש איז געבוירן פריי און גלייך מיט כבוד "
        "און רעכט און זאל זיך פירן מיט ברודערשאפט"
    )
    assert detect(soviet_yi) == "yi"
    # YIVO-pointed Yiddish routes via ligatures/rafe
    yivo_yi = "יעדער מענטש װערט געבױרן פֿרײַ און גלײַך אין כּבֿוד און רעכט."
    assert detect(yivo_yi) == "yi"


def test_exclusive_letter_map_covers_every_exclusive_language():
    """_EXCL_CHAR2LANG is derived from _LATIN_EXCLUSIVE: every language
    with an exclusive letter must appear in the combined map, and every
    mapped char must match its language's own pattern.  Bare
    single-codepoint patterns (ə → az, ł → pl) were once dropped by a
    derivation that only read bracketed classes."""
    from pdf_extract_spark.functions.langid import (
        _EXCL_CHAR2LANG,
        _LATIN_EXCLUSIVE,
        detect,
    )

    assert {lang for _, lang in _LATIN_EXCLUSIVE} == set(
        _EXCL_CHAR2LANG.values())
    pats = dict((lang, p) for p, lang in _LATIN_EXCLUSIVE)
    for ch, lang in _EXCL_CHAR2LANG.items():
        assert pats[lang].search(ch), (ch, lang)
    assert detect("mały chłopiec szedł do szkoły") == "pl"
    assert detect("Bütün insanlar ləyaqət və hüquqlarına görə azad və "
                  "bərabər doğulurlar.") == "az"


def test_mixed_script_blocks_keep_table_order():
    """Two disjoint script blocks that both clear ⅓ of the chars resolve
    in _SCRIPT_RANGES order (Cyrillic before Greek), whichever block the
    first non-Latin char belongs to: the first char's block is only a
    fast accept when it holds more than ⅔ of the chars."""
    from pdf_extract_spark.functions.langid import detect

    # Greek first, but Cyrillic holds 22 of 41 non-space chars
    assert detect("Καλημέρα κόσμε σήμερα Привет мир сегодня хорошо") == "ru"
    assert detect("Καλημέρα κόσμε σήμερα") == "el"
