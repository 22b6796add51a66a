"""Config parity: defaults (factory.go:13-19, factory_test.go:13-72),
max-content-length sentinel handling, TOML round-trip (factory.go:134-147),
basic-auth header (factory.go:186-193) and session-cookie suppression
(brink.go:177-184)."""

import base64
import os

from brink_spark.config import (
    AUTH_BASIC,
    CrawlConfig,
    DEFAULT_MAX_CONTENT_LENGTH,
    UNLIMITED_MAX_CONTENT_LENGTH,
    from_toml,
)


def test_max_content_length_sentinels():
    # factory.go:164-173: 0 → 512 KiB default, -1 → unlimited
    assert CrawlConfig("https://x.com").effective_max_content_length == DEFAULT_MAX_CONTENT_LENGTH
    assert DEFAULT_MAX_CONTENT_LENGTH == 512 * 1024
    assert (
        CrawlConfig("https://x.com", max_content_length=-1).effective_max_content_length
        == UNLIMITED_MAX_CONTENT_LENGTH
    )
    assert (
        CrawlConfig("https://x.com", max_content_length=1000).effective_max_content_length
        == 1000
    )


def test_basic_auth_header():
    cfg = CrawlConfig(
        "https://x.com", auth_type=AUTH_BASIC, user="alice", password="s3cret"
    )
    want = base64.b64encode(b"alice:s3cret").decode()
    assert cfg.request_headers()["Authorization"] == f"Basic {want}"


def test_session_cookie_suppresses_authorization():
    # brink.go:177-184: a request cookie whose name case-insensitively
    # matches a session cookie name deletes the Authorization header
    cfg = CrawlConfig(
        "https://x.com",
        auth_type=AUTH_BASIC,
        user="u",
        password="p",
        cookies=(("JSESSIONID", "abc"),),
        session_cookie_names=("jsessionid",),
        headers=(("X-Custom", "1"),),
    )
    hdrs = cfg.request_headers()
    assert "Authorization" not in hdrs
    assert hdrs["X-Custom"] == "1"
    # without a matching cookie the header survives
    cfg2 = cfg.with_(cookies=(("other", "x"),))
    assert "Authorization" in cfg2.request_headers()


def test_toml_round_trip(tmp_path):
    p = tmp_path / "conf.toml"
    p.write_text(
        """
entrypoint = "https://site0.example/p1"
allowed-domains = ["https://site0.example"]
ignore-get-parameters = ["_tok"]
fuzzy-get-parameter-checks = true
ignore-path-visits = ["/admin"]
max-content-length = -1
auth-type = 1
user = "bob"
pass = "pw"
session-cookie-names = ["sid"]

[headers]
User-Agent = "brink-spark"

[cookies.sid]
name = "sid"
value = "zzz"
"""
    )
    cfg = from_toml(str(p))
    assert cfg.entrypoint == "https://site0.example/p1"
    assert cfg.fuzzy_get_parameter_checks is True
    assert cfg.forbidden_paths == ("/admin",)
    assert cfg.effective_max_content_length == UNLIMITED_MAX_CONTENT_LENGTH
    assert dict(cfg.headers)["User-Agent"] == "brink-spark"
    assert dict(cfg.cookies)["sid"] == "zzz"
    # auth configured but session cookie present → suppressed (brink.go:177-184)
    assert "Authorization" not in cfg.request_headers()


def test_reference_example_conf_loads_fully():
    """The reference's example config (cmd/example-conf.toml, vendored as
    tests/fixtures/example-conf.toml) loads with every key mapped — including url-buffer-size / worker-count /
    idle-work-check-interval (crawler.go:53-62, wave-model mappings
    documented on CrawlConfig) and the 'forbidden-paths' spelling the
    reference's own tag ('ignore-path-visits') would silently drop."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any unknown-key warning = failure
        cfg = from_toml(
            os.path.join(os.path.dirname(__file__), "fixtures", "example-conf.toml")
        )
    assert cfg.entrypoint == "http://example.com"
    assert cfg.url_buffer_size == 150000
    assert cfg.worker_count == 10
    assert cfg.idle_work_check_interval == 5000
    assert cfg.forbidden_paths == ()
    assert dict(cfg.cookies)["CookieName"] == "Cookie Value"
    assert dict(cfg.headers)["header-name"] == "header-value"


def test_unknown_toml_key_warns(tmp_path):
    p = tmp_path / "conf.toml"
    p.write_text('entrypoint = "https://x.com"\nnot-a-real-key = 3\n')
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        from_toml(str(p))
    assert any("not-a-real-key" in str(x.message) for x in w)


def test_toml_top_level_cookies_array_of_tables(tmp_path):
    """The reference's own TestNewCrawlerFromToml (factory_test.go:131-160)
    uses a TOP-LEVEL [[cookies]] array-of-tables; each entry is an
    http.Cookie table keyed into the jar by Name."""
    p = tmp_path / "c.toml"
    p.write_text(
        'entrypoint = "http://example.com"\n'
        "[[cookies]]\n"
        'Name = "Cookie Name"\n'
        'Value = "Cookie Value"\n'
        'Path = "/"\n'
        "Secure = true\n"
        "[[cookies]]\n"
        'Name = "Second Cookie Name"\n'
        'Value = "Second Cookie Value"\n'
    )
    cfg = from_toml(str(p))
    assert cfg.cookies == (
        ("Cookie Name", "Cookie Value"),
        ("Second Cookie Name", "Second Cookie Value"),
    )
