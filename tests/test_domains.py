"""Public-suffix / topPrivateDomain tests — the vendored PSL subset
with full rule semantics (plain, wildcard, exception; longest match
wins). Reference: Guava InternetDomainName.topPrivateDomain
(ArticleTextExtractor.java:3336-3357). See snacktory_spark/domains.py
for the documented divergence envelope."""

import pytest

from snacktory_spark.domains import (extract_domain_name_without_tld,
                                     get_domain, public_suffix_length,
                                     top_private_domain)


def tpd(host):
    return top_private_domain(host, is_host=True)


# --- generic + ccSLD families -----------------------------------------------

@pytest.mark.parametrize("host,want", [
    ("example.com", "example.com"),
    ("a.b.example.com", "example.com"),
    ("foo.co.uk", "foo.co.uk"),
    ("www.foo.co.uk", "foo.co.uk"),
    ("bbc.co.uk", "bbc.co.uk"),
    ("trust.nhs.uk", "trust.nhs.uk"),
    ("shop.com.au", "shop.com.au"),
    ("dept.nsw.au", "dept.nsw.au"),
    ("firm.co.nz", "firm.co.nz"),
    ("x.govt.nz", "x.govt.nz"),
    ("empresa.com.br", "empresa.com.br"),
    ("tribunal.jus.br", "tribunal.jus.br"),
    ("site.com.cn", "site.com.cn"),
    ("lab.ac.cn", "lab.ac.cn"),
    ("ministerio.gob.mx", "ministerio.gob.mx"),
    ("diario.com.ar", "diario.com.ar"),
    ("firma.com.tr", "firma.com.tr"),
    ("okul.k12.tr", "okul.k12.tr"),
    ("shop.co.kr", "shop.co.kr"),
    ("uni.ac.kr", "uni.ac.kr"),
    ("gazeta.com.ua", "gazeta.com.ua"),
    ("sklep.com.pl", "sklep.com.pl"),
    ("tienda.gob.es", "tienda.gob.es"),
    ("skole.co.za", "skole.co.za"),
    ("duka.co.ke", "duka.co.ke"),
    ("suq.com.sa", "suq.com.sa"),
    ("toko.co.id", "toko.co.id"),
    ("rean.ac.th", "rean.ac.th"),
    ("cua.com.vn", "cua.com.vn"),
])
def test_ccsld_families(host, want):
    assert tpd(host) == want
    assert tpd("extra." + host) == want


# --- .jp geographic scheme --------------------------------------------------

def test_jp_organizational_and_prefecture():
    assert tpd("sony.co.jp") == "sony.co.jp"
    assert tpd("www.metro.tokyo.jp") == "metro.tokyo.jp"
    assert tpd("city.osaka.jp") == "city.osaka.jp"      # osaka = prefecture
    assert tpd("x.pref.kanagawa.jp") == "pref.kanagawa.jp"
    # prefecture label alone under .jp is REGISTRABLE per PSL (the
    # wildcard needs a label in front; no plain rule for the city names)
    assert tpd("kawasaki.jp") == "kawasaki.jp"


def test_jp_designated_city_wildcards_and_exceptions():
    # *.kawasaki.jp: every third-level is a suffix...
    assert tpd("ward.kawasaki.jp") is None
    assert tpd("shop.ward.kawasaki.jp") == "shop.ward.kawasaki.jp"
    # ...EXCEPT !city.kawasaki.jp, which is the city's own registrable
    assert tpd("city.kawasaki.jp") == "city.kawasaki.jp"
    assert tpd("www.city.kawasaki.jp") == "city.kawasaki.jp"
    for c in ("kitakyushu", "kobe", "nagoya", "sapporo", "sendai",
              "yokohama"):
        assert tpd(f"city.{c}.jp") == f"city.{c}.jp"
        assert tpd(f"a.b.{c}.jp") == f"a.b.{c}.jp"


# --- wildcard-only ccTLDs ---------------------------------------------------

def test_tld_wildcards():
    for t in ("bd", "ck", "er", "fk", "jm", "kh", "mm", "np", "pg"):
        assert tpd(f"foo.{t}") is None, t          # foo.TLD IS a suffix
        assert tpd(f"shop.foo.{t}") == f"shop.foo.{t}", t
    # *.ye was REMOVED from the PSL (explicit second-levels since ~2018;
    # the r7 snapshot table supersedes the curated reference-era entry):
    # com.ye etc. are suffixes, a bare second-level is registrable
    assert tpd("example.com.ye") == "example.com.ye"
    assert tpd("com.ye") is None
    assert tpd("foo.ye") == "foo.ye"
    # !www.ck: the one registrable name directly under .ck
    assert tpd("www.ck") == "www.ck"
    assert tpd("mail.www.ck") == "www.ck"


# --- US state scheme --------------------------------------------------------

def test_us_states_and_k12():
    assert tpd("foo.ca.us") == "foo.ca.us"
    assert tpd("www.foo.ny.us") == "foo.ny.us"
    assert tpd("school.k12.ca.us") == "school.k12.ca.us"
    assert tpd("www.school.k12.tx.us") == "school.k12.tx.us"
    assert tpd("college.cc.fl.us") == "college.cc.fl.us"
    assert tpd("branch.lib.wa.us") == "branch.lib.wa.us"
    assert tpd("k12.ca.us") is None                # the suffix itself


# --- suffix-itself / fallback envelope --------------------------------------

def test_suffix_itself_returns_none():
    for s in ("co.uk", "com", "tokyo.jp", "k12.tr", "gob.mx"):
        assert tpd(s) is None


def test_psl_lengths():
    assert public_suffix_length("a.co.uk") == 2
    assert public_suffix_length("a.b.kawasaki.jp") == 3
    assert public_suffix_length("x.city.kawasaki.jp") == 2
    assert public_suffix_length("a.k12.ca.us") == 3
    assert public_suffix_length("a.bd") == 2
    assert public_suffix_length("www.ck") == 1
    assert public_suffix_length("example.com") == 1
    assert public_suffix_length("localhost") is None


def test_existing_behavior_unchanged():
    # the fixture-era behaviors the golden suite depends on
    assert get_domain("http://221.214.182.123/x") is None
    assert top_private_domain("http://www.cnn.com/a/b") == "cnn.com"
    assert extract_domain_name_without_tld("www.bbc.co.uk") == "bbc"


# --- r6 tier: geographic/sector second-levels + private registries ----------

def test_ca_provinces_and_fr_ru_sectors():
    assert tpd("www.toronto.on.ca") == "toronto.on.ca"
    assert tpd("ville.qc.ca") == "ville.qc.ca"
    assert tpd("on.ca") is None
    assert tpd("www.site.gouv.fr") == "site.gouv.fr"
    assert tpd("club.asso.fr") == "club.asso.fr"
    assert tpd("uni.edu.ru") == "uni.edu.ru"
    assert tpd("x.mil.ru") == "x.mil.ru"


def test_cn_provinces_and_br_sectors():
    assert tpd("news.bj.cn") == "news.bj.cn"
    assert tpd("www.shop.gd.cn") == "shop.gd.cn"
    assert tpd("gd.cn") is None
    # generic .cn label one level under the TLD still works
    assert tpd("baidu.cn") == "baidu.cn"
    assert tpd("firm.adv.br") == "firm.adv.br"
    assert tpd("www.banda.mus.br") == "banda.mus.br"
    assert tpd("blog.blog.br") == "blog.blog.br"


def test_private_registry_suffixes():
    """Guava includes the PSL private section: hosted-platform
    subdomains are registrable names of their own."""
    assert tpd("user.github.io") == "user.github.io"
    assert tpd("www.user.github.io") == "user.github.io"
    assert tpd("github.io") is None
    assert tpd("myblog.blogspot.com") == "myblog.blogspot.com"
    # wordpress.com has never been IN the PSL (the curated pre-r7 table
    # wrongly listed it): Guava treats it as an ordinary .com
    # registrable, so the subdomain's top private domain is the apex
    assert tpd("site.wordpress.com") == "wordpress.com"
    assert tpd("app.herokuapp.com") == "app.herokuapp.com"
    assert tpd("proj.netlify.app") == "proj.netlify.app"
    assert tpd("docs.readthedocs.io") == "docs.readthedocs.io"
    # 3-label private rule
    assert tpd("bucket.s3.amazonaws.com") == "bucket.s3.amazonaws.com"
    assert tpd("s3.amazonaws.com") is None
    assert public_suffix_length("b.s3.amazonaws.com") == 3
    # amazonaws.com itself is NOT in the vendored set: plain .com rules
    assert tpd("ec2.amazonaws.com") == "amazonaws.com"


def test_centralnic_pseudo_cctlds():
    assert tpd("www.example.uk.com") == "example.uk.com"
    assert tpd("site.us.com") == "site.us.com"
    assert tpd("uk.com") is None
    # se.com / gb.com were dropped from the PSL ~2015 (se.com is
    # Schneider Electric's registrable domain); current Guava/PSL
    # treats them as ordinary .com registrations — so do we (ADVICE r6)
    assert public_suffix_length("x.se.com") == 1
    assert tpd("www.se.com") == "se.com"
    assert tpd("www.gb.com") == "gb.com"


def test_existing_com_behavior_not_shadowed():
    """The private tier must not break ordinary .com/.io hosts."""
    assert tpd("www.google.com") == "google.com"
    assert tpd("api.stripe.io" ) == "stripe.io"
    assert tpd("sub.deep.example.com") == "example.com"


# --- generated snapshot table (r7) ------------------------------------------

def test_psl_data_matches_vendored_snapshot():
    """Regeneration gate (same pattern as the committed synth parquet):
    re-parse the vendored PSL snapshot with the generator's own parser
    and assert the committed psl_data sets are exactly its output — a
    snapshot update without `python scripts/gen_psl.py` fails here."""
    import importlib.util
    import os

    from snacktory_spark import psl_data

    gen_path = os.path.join(os.path.dirname(__file__), "..",
                            "scripts", "gen_psl.py")
    spec = importlib.util.spec_from_file_location("gen_psl", gen_path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    plain, wildcard, exception = gen.parse(gen.SNAPSHOT)
    assert psl_data.PLAIN == frozenset(plain)
    assert psl_data.WILDCARD == frozenset(wildcard)
    assert psl_data.EXCEPTION == frozenset(exception)
    # scale sanity: the full list, not a curated subset
    assert len(psl_data.PLAIN) > 9000
    assert len(psl_data.WILDCARD) > 100


def test_psl_snapshot_tail_families():
    """Entries the curated pre-r7 table never carried — the long tail
    the snapshot closes."""
    # municipal .jp third-levels (plain rules like aisai.aichi.jp)
    assert tpd("www.x.aisai.aichi.jp") == "x.aisai.aichi.jp"
    # deep private wildcards: *.compute.amazonaws.com
    assert tpd("vm.us-east-1.compute.amazonaws.com") \
        == "vm.us-east-1.compute.amazonaws.com"
    assert tpd("us-east-1.compute.amazonaws.com") is None
    # country blogspot variants beyond .com
    assert tpd("myblog.blogspot.co.uk") == "myblog.blogspot.co.uk"
    # unicode rules match their punycode twins (.рф == xn--p1ai)
    assert public_suffix_length("xn--80aswg.xn--p1ai") == 1
    assert tpd("www.xn--80aswg.xn--p1ai") == "xn--80aswg.xn--p1ai"
