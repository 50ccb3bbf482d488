"""Oracle E3 labeling — named quirk cases verified against the reference
algorithm by execution (SURVEY.md §5.2.1)."""

from py_image_toolkit_spark.oracle.labeling import (
    extract_fields,
    label_tokens,
)


def test_happy_path_full_record():
    toks = ["주민등록증", "김첨지", "123456-1234567", "서울특별시", "종로구",
            "2021", "03", "05", "종로구청장"]
    f = extract_fields(toks)
    assert f == {
        "document_title": "주민등록증", "name": "김첨지",
        "address": "서울특별시 종로구", "rrn": "123456-1234567",
        "issue_date": "2021.03.05", "issuer": "종로구청장",
    }


def test_keyword_veto_quirk_honggildong():
    # 홍길동 contains 동/길 (address keywords) → vetoed as name, and the
    # address-shape regex labels it address (reference quirk, ocr.py:282-291)
    toks = ["주민등록증", "홍길동", "123456-1234567"]
    assert label_tokens(toks) == ["document_title", "address", "rrn"]
    f = extract_fields(toks)
    assert f["name"] is None and f["address"] == "홍길동"


def test_greedy_first_scan_quirk():
    # filler token between title and rrn wins the name scan over the real name
    toks = ["주민등록증", "부가정보", "박첨지", "1234561234567"]
    assert label_tokens(toks)[1] == "name"
    assert extract_fields(toks)["name"] == "부가정보"


def test_fast_path_no_fallback():
    # rrn == title+2 and the middle token fails → NO fallback scan
    toks = ["주민등록증", "서울특별시", "123456-1234567"]
    assert extract_fields(toks)["name"] is None


def test_rrn_13_digits():
    assert label_tokens(["9901011234567"]) == ["rrn"]
    assert label_tokens(["990101-1234567"]) == ["rrn"]


def test_two_token_date_dropped():
    f = extract_fields(["2021", "07"])
    assert f["issue_date"] is None


def test_date_zero_padding_preserved():
    f = extract_fields(["2020", "1", "9"])
    assert f["issue_date"] == "2020.1.9"


def test_date_run_of_four_merges_first_triple():
    toks = ["2021", "03", "05", "11"]
    assert label_tokens(toks) == ["issue_date"] * 4
    assert extract_fields(toks)["issue_date"] == "2021.03.05"
    # an invalid leading triple (month 13) does not merge, and the next
    # chunk of the run is a lone "11": no dotted date in this run
    toks = ["2021", "13", "05", "11"]
    assert label_tokens(toks) == ["issue_date"] * 4
    assert extract_fields(toks)["issue_date"] is None


def test_road_number_guard():
    # 1-2 digit token after a road-name token is NOT a date (C4) and stays O
    labels = label_tokens(["수표로", "12"])
    assert labels == ["address", "O"]


def test_neighbor_relabel_and_issuer_merge():
    toks = ["서울특별시", "종로구청장"]
    assert label_tokens(toks) == ["issuer", "issuer"]
    assert extract_fields(toks)["issuer"] == "서울특별시 종로구청장"


def test_issuer_school_precedence_quirk():
    # endswith 학교 and not 대학교 stands alone (H10 precedence quirk)
    assert label_tokens(["서울고등학교"]) == ["issuer"]
    assert label_tokens(["한국대학교"]) == ["O"]
    assert label_tokens(["한국대학교장"]) == ["issuer"]  # contains 학교장


def test_issue_date_overwrite_by_address():
    # a date-shaped token with address indicators gets labeled address only
    # when it is not a pure date component; pure "12" with road prev stays O
    assert label_tokens(["2021"]) == ["issue_date"]


def test_fullwidth_digits_are_not_ascii_digits():
    """Dialect pin (round-1 ADVICE): the engine is deliberately
    ASCII-digit-only in every E3 implementation — Java rlike's \\d is ASCII,
    and the oracle/kernel path now compiles with re.ASCII. A full-width
    digit token must stay 'O', not match the address-unit shape."""
    from py_image_toolkit_spark.oracle.labeling import label_tokens

    labels = label_tokens(["주민등록증", "박영수", "880505-1122334", "１２호"])
    assert labels == ["document_title", "name", "rrn", "O"]
    # and a full-width 'rrn' shaped token is not an rrn
    assert label_tokens(["１２３４５６-１２３４５６７"]) == ["O"]
