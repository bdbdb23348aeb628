"""Whole-output byte pins for every extraction sink.

One md5 per sink and per document over ``fixtures.build_corpus(25,
jumbo_every=25)`` (all 24 families plus one jumbo document) with semantic
roles predicted: TXT, TXT-EXTENDED, JSONL with all six units, and the SVG
and PDF visualizations with every layer.  The corpus runs once without a
role filter and once keeping only title and heading blocks; the role
filter reaches the TXT, TXT-EXTENDED and JSONL sinks only, so the SVG and
PDF digests are the same in both runs and are listed once.
"""

import hashlib
from dataclasses import replace

import pytest

from pdftotext_plus_plus_spark import fixtures, pipeline
from pdftotext_plus_plus_spark.config import DEFAULT_CONFIG
from pdftotext_plus_plus_spark.visualization import ALL_UNITS

JSONL_ALL = ("pages", "blocks", "words", "characters", "figures", "shapes")
ROLE_SETTINGS = {"all": None, "title+heading": {"title", "heading"}}

# per document: (txt, txt_extended, jsonl, svg, pdf) without a role filter,
# (txt, txt_extended, jsonl) with one
SINK_DIGESTS = {
    "all": (
        ("d2bcd0b25e94ae789b59907c8961aa3f", "cf70abba29e03b6531f43bbf0eb43127",
         "1bb29ca2b47cef907054241914fccd46", "d807d08e508bbba55edacbd70361590b",
         "9af9205d4cd3a82048e30f0e5f1f70db"),  # 0
        ("f5330264ee335c4212b6346b67d91a78", "0e5aa429404fc9284a98e47efff69e90",
         "ab82f6d087fb117fb855979e9834c9d3", "00f6a82c18f586d82873204f6d2d7373",
         "ce91cf76086be4c1f00659ea60964a24"),  # 1
        ("fa1aa84e2bd8d961d1d0c41502407954", "b24dc30dc8df979c15864337cb169029",
         "020e3069358751c1adebf0cdfafd1153", "fb1af8939718bd92e3c11174ad1d1c9d",
         "b7bc77285d1ae136b85418a14c39bd84"),  # 2
        ("8bd4282882f98497be57cc8771f63221", "1ea924cbb29e061de2c5ae93d3815eca",
         "560b923755e0f977db3c10f08852373a", "19bfe2496f0372630b3493d8ae52d482",
         "74635e0e9aa8dd96e653827d1fce64b3"),  # 3
        ("a461d42591df2d8817d36248a9d5b3af", "63a277ff25b8b2437484b5fdcf888f78",
         "7c966c3a9f5d0ad5881d80ff39ee0e45", "57695e572d60ca191fddb775b8543971",
         "6b1f86d5cc76835e4469d04e9dde2b13"),  # 4
        ("3125f4c8e6e30ab3473b2b6c7284fa75", "510f48a82e3688b25054a16b49b41677",
         "bd357dcf2f6d230011329776beb91e81", "34dd1e3f07b0287fa9b3dc8a65191ca0",
         "97cddffc7a7b8b30e7c73931623f836e"),  # 5
        ("d1fca464ccc686f3b50a4e4ef1037eb7", "2ccbb1287c9399aa069bd4b965782863",
         "3a837afe61a2db38459ca8aae7722c15", "46659a780f2a854b1f13414d146a14b6",
         "9aedcdebde8f3eae9847da56c9eb3e6b"),  # 6
        ("4b0f460160ef376e0da2f958193164d6", "8299110be748a85f927bacd63a53bcbe",
         "a87435a25aa41e80c541b8ad27de76b3", "c2915ad91c88bd3feb6a7e501a02fad8",
         "cc2027ad0b6c17819badfa6b864f7d26"),  # 7
        ("9ec9dacc1c77da221778baab601d5ad2", "d57954fea2dcff775ce61cce9ae57215",
         "d6f1ab3c2d5184df177da59c226b48ca", "8696d829d658e11760a3fa582a72da33",
         "fc495e195c209c47b70ebe6143fb6125"),  # 8
        ("3d2188f566ba3bbe94d8562a4b930b7c", "2a93cb93ec7a50bb74edd5f433f57f6c",
         "1cdf0f5744be74d7153f89962cc3548f", "c4c84c9af9beb2e69370d90b2c679195",
         "bb855ad36f63f74530e751633e1c4408"),  # 9
        ("b14a3bc9e90d4fcbf85f8ea65dc069c2", "e7e764d2475be2db2087e7a0851013b3",
         "e4c38db11092e506a42bf3baff971512", "f12661acad95d3eb793ba8b4b0669f21",
         "63ef24d8ef6055529138b2801dd57a73"),  # 10
        ("956a8432eb78d5c377fcab537d2768ea", "ad6d94f41a2550e86c344262e2f38277",
         "6b234df91bdf8680e5ede1b26f3cd08e", "566d71816dfc8fd703aef6c21703c3c3",
         "c89cb776b98b14635c5dedc35d49409f"),  # 11
        ("eec15dc3a125106a9c78ad9a483a5ed0", "c40ac1ac5f08b1e97c2adf8f4895a8b7",
         "0097f0972e86678ffcc8de0e34545f2b", "0929c527c1a95637623a1711b4700fa7",
         "1c3c4ca6c7b2e43fe1d11ebd5b912963"),  # 12
        ("a147b7c9648f5b046de0088413894e45", "8452676eacdefd0444579d20fac096f8",
         "1d45a8dea0b0688109db1c61c164f8d7", "d77292abd9afe6ca21caf91fbad332d5",
         "5256bc5d043e64bbfa0a10ae0f8557b4"),  # 13
        ("e05c7a68be1c508bbb1e87d2f4603659", "3b2e34b7f7581cab492adf46dfcbe5b7",
         "8453098ba2454cb269aa415d58114d16", "cabfbd19654bb459d848e29cca4b0c1c",
         "675847677a0f22cb8cc2ea827c2f745b"),  # 14
        ("bcfc981ad4d8dae669427b11198f1d89", "57b2d577ef28b511a2c7160ef4f64948",
         "4124fafdcb687122b0d9a6bfb363673e", "021424fbbbb17152f285b90db7c8d833",
         "0ea067e8fe6e28c3fe479a9535873b1c"),  # 15
        ("3f563997441581de9568bd0bc8a0a880", "b50f0ea9ecebc9f23e10e8d1979d5e54",
         "4cbf77326eb6ee0b853a1147f0243060", "51bc9e5bbbc58ce3645210c077833f91",
         "4f901d2023986a6c2df97a37f9a50a2a"),  # 16
        ("321a6f97eb6ef71b9d05de26b95843d1", "432e403266ab47fc36162b86b2a09fe3",
         "93d00f396bafa3ae1ad7f24ae484c082", "66c676a3a027e2f7b93609ed98ced441",
         "05d11a93f3a339d79b24b08dc6f086e0"),  # 17
        ("66e8c4ac062787d9cb651aa706f7e0d9", "dd710fbf6782b7aefa0419b4273a2b15",
         "1c3d0e7eac1ca50e9bd558b4429215d9", "4f17b9ca33c9b0f968aac95c40b96ea2",
         "68f4910adb328147e4cb0c3bd23e65ce"),  # 18
        ("47fe4880149c2063beca1827e62fa10d", "b4b88f3c864d1d9977da437d216817b1",
         "f5e1a129874143c543cf472bf0c57880", "b4c17b7c0e429044d75bf5e9bf5ff184",
         "c845e82e056d55894a5967b818eebad4"),  # 19
        ("4c4a68d2ea326e0c5df51e54b289c462", "4fe78f3214d1b7387a8b2f1e37eb620d",
         "5a8a701ecfad08675578636842a00f85", "8e1ec31216a6602017c21071739f5268",
         "3c4091076c7c8b3623b37106b86fa7e4"),  # 20
        ("ee5122fe15d2714e84567e2dadd5ae62", "1e18f1e35052759d710a01d7d6d72ac9",
         "92de071ad90fc84444b1a72050784f4d", "16926b471a47079d9510e94fe2389225",
         "07f7f41cfd9a297d1a554ea9daeecf64"),  # 21
        ("1d8709f056a91c22663fec8da051966e", "47913b4d7b196dc433332845e4dc0606",
         "ec363be7e5ff1e3c9970b9b9639801a9", "82b9650ea2968d7d71db852d30252b97",
         "7f7bb4b1a02d1e072f30d14e717a4005"),  # 22
        ("4f1b902da6f2ae9545a226f92865da64", "ed044378c7237f6c154f5d2cf2eaf3a2",
         "39d850142eaacb1c67d62e3df6cdad32", "b6cc640f700f6ce642101903ab69504d",
         "e721a057933505db850e4e172be6090d"),  # 23
        ("30b1e7bc14ca9e9ffcde09edcbf98741", "38874de9fbd693eb52531cc8a70897a3",
         "41c54f5b53e581790cbc53faa5672008", "1eb0a51a46245dad16e5708b7b1d676b",
         "98479592e6dc470b5a2d1d4e093ce00b"),  # 24
    ),
    "title+heading": (
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 0
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 1
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 2
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 3
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 4
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 5
        ("363aca6ab6e3d45cb8aafdf4f87e27f1", "3e11adb133c19d48e299e8e4cda31152",
         "e007cb37a58e749192a5bd5b018decfa"),  # 6
        ("68b329da9893e34099c7d8ad5cb9c940", "31b3208502f70fbb2a3a1d3e75a82d69",
         "6b3e0ea3d61e266645c9d283d61db4e4"),  # 7
        ("68b329da9893e34099c7d8ad5cb9c940", "be7dd4f7c8a6a26eaa103a818fad7dc1",
         "6b254e0ba50c53e9785a84ba337162b6"),  # 8
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 9
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 10
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 11
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 12
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "f7f76c400d02c862b3ccc43629628d9a"),  # 13
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 14
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 15
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 16
        ("1cdea7de58348f60727d3b74f45077b5", "d605dc4033c18b99f330d177c5236a8a",
         "baa676b63bd4a16c19ab35c25903dec6"),  # 17
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "738ab901278779c1bfd57cca1fb46c6e"),  # 18
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 19
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 20
        ("68b329da9893e34099c7d8ad5cb9c940", "bf63451852eb02cd5a8fa23022401fd4",
         "ed64902c490542029da08d8697f7e7b1"),  # 21
        ("8bb0006b669d84872ee92e51b208613d", "b495a60173c4d36c94a7f7740cacf8e6",
         "09bff9f006ebdfb600987d8901e4dfb9"),  # 22
        ("f31f7ba0ccafc78ecd362c64333280c5", "6286d3951ffe8e97a35f2c4bac0ac694",
         "f1ef0abc1213a0c894c623df226208ee"),  # 23
        ("68b329da9893e34099c7d8ad5cb9c940", "defda5ec39d80eef2ec23bb910b854a6",
         "bae72811391cb1920e8a18de0036fa78"),  # 24
    ),
}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


@pytest.fixture(scope="module")
def corpus():
    return fixtures.build_corpus(25, jumbo_every=25)


@pytest.mark.parametrize("setting", sorted(ROLE_SETTINGS))
def test_sink_bytes_are_pinned(corpus, setting):
    config = replace(DEFAULT_CONFIG, skip_semantic_roles=False)
    got = []
    for row in corpus:
        res = pipeline.extract(row["html"], config,
                               roles=ROLE_SETTINGS[setting],
                               jsonl_units=JSONL_ALL, svg_units=ALL_UNITS,
                               pdf_units=ALL_UNITS)
        assert res.parse_failure_code == 0, row["url"]
        got.append(tuple(_md5(s) for s in (
            res.extracted_text, res.extracted_text_extended, res.jsonl,
            res.svg, res.pdf)))
    svg_pdf = [d[3:] for d in SINK_DIGESTS["all"]]
    want = [d[:3] + sp for d, sp in zip(SINK_DIGESTS[setting], svg_pdf)]
    assert len(got) == len(want) == 25
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, (i, corpus[i]["url"])
