"""Gateway tests: validator admission contract, executor envelope,
row caps, timeout, schema introspection.

Mirrors + extends the reference's own validator tests
(``/root/reference/etl-service/tests/test_sync.py:28-42``).
"""

from __future__ import annotations

import pytest

from ser_etl_spark.gateway import (
    QueryRejected,
    QueryTimeoutError,
    QueryValidator,
    SnapshotCatalog,
    SparkQueryEngine,
    sanitize_query,
)


@pytest.fixture(scope="module")
def engine(spark, sf_small):
    catalog = SnapshotCatalog(spark, sf_small)
    return SparkQueryEngine(spark, catalog)


# -- validator (C1-C4) ------------------------------------------------------


class TestValidator:
    v = QueryValidator()

    @pytest.mark.parametrize(
        "q,pattern",
        [
            ("SELECT * FROM inventory", "select_all"),
            ("SELECT COUNT(*) FROM products", "count"),
            ("SELECT id, price FROM products", "select_columns"),
            ("SELECT SUM(quantity) FROM inventory", "aggregate"),
            # parens break select_columns' [\w\s,]+ -> falls to group_by
            ("SELECT a, SUM(b) FROM t GROUP BY a", "group_by"),
            ("select * from lowercase_ok", "select_all"),
        ],
    )
    def test_accepts(self, q, pattern):
        assert self.v.validate(q).pattern == pattern

    @pytest.mark.parametrize(
        "q",
        [
            "INSERT INTO t VALUES (1)",
            "DROP TABLE inventory",
            "DELETE FROM t",
            "UPDATE t SET a=1",
            "SELECT * FROM a UNION SELECT * FROM b",
            "CREATE TABLE x AS SELECT 1",
            "EXEC something",
            "PRAGMA version",  # matches no allow pattern
        ],
    )
    def test_rejects(self, q):
        with pytest.raises(QueryRejected):
            self.v.validate(q)

    def test_length_cap(self):
        with pytest.raises(QueryRejected, match="maximum length"):
            self.v.validate("SELECT * FROM t WHERE x = '" + "a" * 5000 + "'")

    def test_row_caps_per_pattern(self):
        assert self.v.validate("SELECT COUNT(*) FROM t").max_rows == 1
        assert self.v.validate("SELECT * FROM t").max_rows == 10000
        # Pattern order is part of the contract: a simple column list
        # matches select_columns (cap 10000) before where_clause sees it —
        # same precedence as the reference's whitelist ordering.
        assert self.v.validate("SELECT a FROM t WHERE a > 1").max_rows == 10000
        assert self.v.validate("SELECT a + 1 FROM t WHERE a > 1").max_rows == 5000

    def test_sanitizer_strips_comments(self):
        q = "SELECT * /* hidden */ FROM t -- trailing\n WHERE a = 1"
        assert sanitize_query(q) == "SELECT * FROM t WHERE a = 1"


# -- executor (C5-C9, B9-B10) ----------------------------------------------


class TestExecutor:
    def test_envelope(self, engine):
        res = engine.execute_query("SELECT COUNT(*) FROM lineitem")
        assert res.row_count == 1
        assert res.columns == ["count(1)"] or len(res.columns) == 1
        assert res.data[0][res.columns[0]] == 6000
        assert res.execution_time_ms > 0
        assert res.pattern == "count"

    def test_max_rows_cap_enforced(self, engine):
        # lineitem has 6000 rows; where_clause pattern caps at 5000 (the
        # `+ 0` expression keeps select_columns' looser 10000 cap from
        # matching first).
        res = engine.execute_query(
            "SELECT l_orderkey + 0 AS k FROM lineitem WHERE l_quantity > 0"
        )
        assert res.row_count == 5000
        assert res.pattern == "where_clause"

    def test_rejected_query_raises(self, engine):
        with pytest.raises(QueryRejected):
            engine.execute_query("DROP TABLE lineitem")

    def test_order_by_limit(self, engine):
        res = engine.execute_query(
            "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC LIMIT 5"
        )
        assert res.row_count == 5
        prices = [r["o_totalprice"] for r in res.data]
        assert prices == sorted(prices, reverse=True)

    def test_schema_introspection(self, engine):
        schema = engine.get_schema()
        assert "lineitem" in schema
        assert "l_orderkey" in schema["lineitem"]
        assert "customer" in schema

    def test_timeout_cancels(self, spark, sf_small):
        catalog = SnapshotCatalog(spark, sf_small)
        validator = QueryValidator(max_execution_time_s=1.0)
        slow_engine = SparkQueryEngine(spark, catalog, validator)
        # Triple cartesian self-join of lineitem (6000^3 = 2.2e11 rows)
        # aggregated — cannot finish in 1s; must be cancelled.
        with pytest.raises(QueryTimeoutError):
            slow_engine.execute_query(
                "SELECT SUM(a.l_quantity * b.l_extendedprice * c.l_discount) "
                "FROM lineitem a, lineitem b, lineitem c"
            )


class TestCatalogRefresh:
    def test_manifest_missing_returns_empty(self, spark, tmp_path):
        cat = SnapshotCatalog(spark, str(tmp_path))
        assert cat.read_manifest() == {}

    def test_plain_dir_resolution(self, spark, sf_small):
        cat = SnapshotCatalog(spark, sf_small)
        gen = cat.refresh()
        assert gen.snapshot_dir == sf_small and gen.version is None
        # second call within TTL is a no-op returning the same generation
        assert cat.refresh() is gen


class TestRateLimiter:
    """C12 — reference defaults: 50 req/min per client
    (api-service/src/rate_limiter.py:15-24, config.py:22-23)."""

    def _limiter(self, max_requests=3, window_s=60.0):
        from ser_etl_spark.gateway.access import RateLimiter

        t = {"now": 1000.0}
        lim = RateLimiter(max_requests, window_s, clock=lambda: t["now"])
        return lim, t

    def test_allows_up_to_budget_then_rejects(self):
        from ser_etl_spark.gateway.access import RateLimitExceeded

        lim, _ = self._limiter(3)
        for _ in range(3):
            lim.check("1.2.3.4")
        with pytest.raises(RateLimitExceeded):
            lim.check("1.2.3.4")

    def test_window_slides(self):
        from ser_etl_spark.gateway.access import RateLimitExceeded

        lim, t = self._limiter(2, window_s=60)
        lim.check("c")
        t["now"] += 30
        lim.check("c")
        with pytest.raises(RateLimitExceeded):
            lim.check("c")
        t["now"] += 31  # first hit ages out (61s old), second is 31s old
        lim.check("c")
        with pytest.raises(RateLimitExceeded):
            lim.check("c")

    def test_clients_are_independent(self):
        from ser_etl_spark.gateway.access import RateLimitExceeded

        lim, _ = self._limiter(1)
        lim.check("a")
        lim.check("b")
        with pytest.raises(RateLimitExceeded):
            lim.check("a")

    def test_rejected_requests_do_not_consume_budget(self):
        from ser_etl_spark.gateway.access import RateLimitExceeded

        lim, t = self._limiter(1, window_s=60)
        lim.check("c")
        for _ in range(5):
            with pytest.raises(RateLimitExceeded):
                lim.check("c")
        t["now"] += 61
        lim.check("c")  # would fail if rejections had been recorded


class TestAuth:
    """C10/C11 — JWT flow + scope check in the reference's shape
    (api-service/src/auth.py:27-120)."""

    def _jwks_auth(self):
        from ser_etl_spark.gateway.access import JwksAuthenticator

        jwks = {"keys": [{"kid": "k1", "n": "modulus"}]}
        fetches = []

        def fetch():
            fetches.append(1)
            return jwks

        def decode(token, jwk, audience, issuer):
            # fake of pyjwt's verified decode: the token IS its payload
            payload = dict(item.split("=") for item in token.split(";") if "=" in item)
            if payload.pop("sig", None) != jwk["n"]:
                raise ValueError("bad signature")
            if payload.get("aud") != audience or payload.get("iss") != issuer:
                raise ValueError("bad aud/iss")
            return payload

        def header(token):
            if "kid=" not in token:
                raise ValueError("no header")
            return {"kid": dict(i.split("=") for i in token.split(";") if "=" in i)["kid"]}

        auth = JwksAuthenticator(
            fetch_jwks=fetch,
            decode=decode,
            header_reader=header,
            audience="analytics-api",
            issuer="https://tenant.example/",
        )
        return auth, fetches

    def _token(self, **over):
        base = {
            "kid": "k1", "sig": "modulus", "aud": "analytics-api",
            "iss": "https://tenant.example/", "sub": "user1",
            "scope": "read:analytics openid",
        }
        base.update(over)
        return ";".join(f"{k}={v}" for k, v in base.items())

    def test_valid_token_yields_claims(self):
        auth, _ = self._jwks_auth()
        claims = auth.authenticate(self._token())
        assert claims["sub"] == "user1"

    def test_jwks_fetched_once_and_cached(self):
        auth, fetches = self._jwks_auth()
        auth.authenticate(self._token())
        auth.authenticate(self._token())
        assert len(fetches) == 1

    def test_unknown_kid_rejected(self):
        from ser_etl_spark.gateway.access import AuthError

        auth, _ = self._jwks_auth()
        with pytest.raises(AuthError, match="signing key"):
            auth.authenticate(self._token(kid="nope"))

    def test_bad_signature_audience_issuer_rejected(self):
        from ser_etl_spark.gateway.access import AuthError

        auth, _ = self._jwks_auth()
        for bad in (
            self._token(sig="forged"),
            self._token(aud="other-api"),
            self._token(iss="https://evil.example/"),
        ):
            with pytest.raises(AuthError, match="Invalid token"):
                auth.authenticate(bad)

    def test_garbage_token_rejected(self):
        from ser_etl_spark.gateway.access import AuthError

        auth, _ = self._jwks_auth()
        with pytest.raises(AuthError, match="header"):
            auth.authenticate("not-a-jwt")

    def test_scope_check_accepts_and_rejects(self):
        from ser_etl_spark.gateway.access import ScopeError, require_scope

        claims = {"scope": "read:analytics openid", "sub": "u"}
        assert require_scope(claims, "read:analytics") is claims
        with pytest.raises(ScopeError, match="write:analytics"):
            require_scope(claims, "write:analytics")
        with pytest.raises(ScopeError):
            require_scope({}, "read:analytics")


class TestGatewayFront:
    """The composed stack: auth -> scope -> rate limit -> engine, with a
    structured log line per request (C13, main.py:57-75)."""

    def _front(self, engine, max_requests=100):
        from ser_etl_spark.gateway.access import (
            GatewayFront,
            RateLimiter,
            StaticTokenAuthenticator,
        )

        auth = StaticTokenAuthenticator(tokens={
            "good": {"sub": "u1", "scope": "read:analytics"},
            "noscope": {"sub": "u2", "scope": "openid"},
        })
        return GatewayFront(
            engine=engine,
            authenticator=auth,
            limiter=RateLimiter(max_requests=max_requests),
        )

    def test_authorized_query_executes(self, engine):
        front = self._front(engine)
        res = front.query("good", "1.2.3.4", "SELECT COUNT(*) FROM lineitem")
        assert res.row_count == 1

    def test_invalid_token_is_401_before_execution(self, engine):
        from ser_etl_spark.gateway.access import AuthError

        front = self._front(engine)
        with pytest.raises(AuthError):
            front.query("bad", "1.2.3.4", "SELECT COUNT(*) FROM lineitem")

    def test_missing_scope_is_403(self, engine):
        from ser_etl_spark.gateway.access import ScopeError

        front = self._front(engine)
        with pytest.raises(ScopeError):
            front.query("noscope", "1.2.3.4", "SELECT COUNT(*) FROM lineitem")

    def test_rate_limit_is_429_and_skips_engine(self, engine):
        from ser_etl_spark.gateway.access import RateLimitExceeded

        front = self._front(engine, max_requests=1)
        front.query("good", "9.9.9.9", "SELECT COUNT(*) FROM lineitem")
        with pytest.raises(RateLimitExceeded):
            front.query("good", "9.9.9.9", "SELECT COUNT(*) FROM lineitem")

    def test_every_outcome_logs_one_structured_line(self, engine, caplog):
        import json as _json
        import logging

        from ser_etl_spark.gateway.access import AuthError

        front = self._front(engine)
        with caplog.at_level(logging.INFO, logger="ser_etl_spark.gateway"):
            front.query("good", "1.1.1.1", "SELECT COUNT(*) FROM lineitem")
            with pytest.raises(AuthError):
                front.query("bad", "1.1.1.1", "SELECT COUNT(*) FROM lineitem")
        lines = [_json.loads(r.message) for r in caplog.records]
        assert len(lines) == 2
        ok, denied = lines
        assert ok["status"] == "ok" and ok["client"] == "1.1.1.1"
        assert ok["duration_ms"] >= 0 and ok["pattern"]
        assert denied["status"] == "401"

    def test_health_envelope(self, engine):
        """Reference GET /health (main.py:78-82) extended with snapshot
        freshness SIGNALS: version, age vs the 120 s TTL. Topology
        (resolved path, table list) stays out of the unauthenticated
        envelope (r9 ADVICE)."""
        front = self._front(engine)
        front.query("good", "1.2.3.4", "SELECT COUNT(*) FROM lineitem")
        h = front.health()
        assert h["status"] == "healthy" and h["timestamp"] > 0
        assert h["ttl_s"] == engine.catalog.ttl_s
        assert h["stale"] is False  # just refreshed by the query
        assert h["snapshot_age_s"] is not None and h["snapshot_age_s"] >= 0
        # plain-directory layout has no manifest version; a published
        # store would carry one — the key must exist either way
        assert "snapshot_version" in h
        # unauthenticated callers never see filesystem paths or the
        # registered-table list
        assert "snapshot_dir" not in h and "tables" not in h

    def test_health_before_first_query_is_cheap(self, spark, sf_small):
        """Liveness probes run before any query (and before any token
        exists): health must not force a snapshot resolve."""
        front = self._front(
            SparkQueryEngine(spark, SnapshotCatalog(spark, sf_small))
        )
        h = front.health()
        assert h["status"] == "healthy"
        assert "snapshot_dir" not in h and h["stale"] is True

    def test_close_releases_catalog_and_logs(self, spark, sf_small, caplog):
        """Reference shutdown hook (main.py:133-137): close() drops the
        catalog's current generation, logs the shutdown, and leaves the
        front reusable (next query re-resolves)."""
        import json as _json
        import logging

        catalog = SnapshotCatalog(spark, sf_small)
        eng = SparkQueryEngine(spark, catalog)
        front = self._front(eng)
        front.query("good", "1.2.3.4", "SELECT COUNT(*) FROM lineitem")
        served = catalog.refresh()
        assert "lineitem" in served.tables  # a generation while serving
        with caplog.at_level(logging.INFO, logger="ser_etl_spark.gateway"):
            front.close()
        assert catalog.status()["tables"] == []
        assert front.health()["snapshot_version"] is None
        assert front.health()["stale"] is True
        events = [_json.loads(r.message)["event"] for r in caplog.records]
        assert "gateway.shutdown" in events
        # reusable: the next query re-resolves into a new generation
        res = front.query("good", "1.2.3.4", "SELECT COUNT(*) FROM lineitem")
        again = catalog.refresh()
        assert res.row_count == 1 and again is not served
        assert again.session.table("lineitem").count() == 6000
        front.close()
        front.close()  # idempotent
        assert catalog.status()["tables"] == []


class TestTimeTravel:
    """A12: versioned snapshots stay readable until retention (zero-copy
    time travel through the catalog)."""

    def test_read_version_sees_historic_data(self, spark, sf_small, tmp_path):
        import shutil

        from ser_etl_spark.etl.build import build_snapshot
        from ser_etl_spark.etl.publish import publish_snapshot
        from ser_etl_spark.gateway.catalog import SnapshotCatalog
        from ser_etl_spark.sources.parquet import load_table

        store = str(tmp_path / "store")
        orders = load_table(spark, sf_small, "orders")

        build1 = str(tmp_path / "b1")
        build_snapshot({"orders": orders.limit(100)}, build1, views={})
        m1 = publish_snapshot(build1, store, tables={"orders": 100}, views={})

        build2 = str(tmp_path / "b2")
        build_snapshot({"orders": orders.limit(200)}, build2, views={})
        m2 = publish_snapshot(build2, store, tables={"orders": 200}, views={})

        cat = SnapshotCatalog(spark, store)
        assert cat.versions()[0] == m2["version"]
        assert m1["version"] in cat.versions()
        # current serves v2; time travel reads v1 unchanged
        gen = cat.refresh(force=True)
        assert gen.session.table("orders").count() == 200
        assert cat.read_version(m1["version"], "orders").count() == 100

    def test_unknown_version_raises(self, spark, sf_small, tmp_path):
        import pytest as _pytest

        from ser_etl_spark.gateway.catalog import SnapshotCatalog

        cat = SnapshotCatalog(spark, str(tmp_path / "nostore"))
        with _pytest.raises(FileNotFoundError):
            cat.read_version("19990101_000000_000000", "orders")


# ---------------------------------------------------------------------------
# C10 crypto parity: real RS256 verification (gateway/jwt_rs256.py)
# ---------------------------------------------------------------------------

import functools
import hashlib
import json as _json
import random as _random


@functools.lru_cache(maxsize=4)
def _rsa_keypair(seed: int = 7, bits: int = 1024):
    """Deterministic throwaway RSA keypair (tests only): Miller-Rabin
    primes from a seeded PRNG, e=65537. Pure stdlib — the whole point is
    proving the verifier needs no crypto library."""
    rng = _random.Random(seed)

    def is_probable_prime(n, rounds=40):
        small = (2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37)
        for p in small:
            if n % p == 0:
                return n == p
        d, r = n - 1, 0
        while d % 2 == 0:
            d //= 2
            r += 1
        for _ in range(rounds):
            a = rng.randrange(2, n - 1)
            x = pow(a, d, n)
            if x in (1, n - 1):
                continue
            for _ in range(r - 1):
                x = x * x % n
                if x == n - 1:
                    break
            else:
                return False
        return True

    def gen_prime(b):
        while True:
            c = rng.getrandbits(b) | (1 << (b - 1)) | 1
            if is_probable_prime(c):
                return c

    e = 65537
    while True:
        p, q = gen_prime(bits // 2), gen_prime(bits // 2)
        if p == q:
            continue
        lam = (p - 1) * (q - 1)
        if lam % e:
            d = pow(e, -1, lam)
            return {"n": p * q, "e": e, "d": d}


class TestRs256:
    """End-to-end RSASSA-PKCS1-v1_5 / SHA-256 verification: sign with a
    generated private exponent, verify through the default
    JwksAuthenticator path (no injected fakes)."""

    AUD = "analytics-api"
    ISS = "https://tenant.example/"

    def _jwk(self, kp, kid="rsa1"):
        from ser_etl_spark.gateway.jwt_rs256 import b64url_encode

        k = (kp["n"].bit_length() + 7) // 8
        return {
            "kid": kid,
            "kty": "RSA",
            "n": b64url_encode(kp["n"].to_bytes(k, "big")),
            "e": b64url_encode(kp["e"].to_bytes(3, "big")),
        }

    def _sign(self, signing_input: bytes, kp) -> bytes:
        from ser_etl_spark.gateway.jwt_rs256 import _SHA256_DIGEST_INFO

        k = (kp["n"].bit_length() + 7) // 8
        t = _SHA256_DIGEST_INFO + hashlib.sha256(signing_input).digest()
        em = b"\x00\x01" + b"\xff" * (k - len(t) - 3) + b"\x00" + t
        return pow(int.from_bytes(em, "big"), kp["d"], kp["n"]).to_bytes(
            k, "big"
        )

    def _token(self, kp, claims=None, header=None):
        from ser_etl_spark.gateway.jwt_rs256 import b64url_encode

        base = {
            "sub": "user1", "aud": self.AUD, "iss": self.ISS,
            "scope": "read:analytics",
        }
        base.update(claims or {})
        header = header or {"alg": "RS256", "kid": "rsa1"}
        h64 = b64url_encode(_json.dumps(header).encode())
        p64 = b64url_encode(_json.dumps(base).encode())
        sig = self._sign(f"{h64}.{p64}".encode(), kp)
        return f"{h64}.{p64}.{b64url_encode(sig)}"

    def _auth(self, kp):
        from ser_etl_spark.gateway.access import JwksAuthenticator

        return JwksAuthenticator(
            fetch_jwks=lambda: {"keys": [self._jwk(kp)]},
            audience=self.AUD,
            issuer=self.ISS,
        )

    def test_signed_token_verifies_through_default_path(self):
        kp = _rsa_keypair()
        claims = self._auth(kp).authenticate(self._token(kp))
        assert claims["sub"] == "user1"

    def test_tampered_payload_rejected(self):
        from ser_etl_spark.gateway.access import AuthError
        from ser_etl_spark.gateway.jwt_rs256 import b64url_encode

        kp = _rsa_keypair()
        h64, p64, sig = self._token(kp).split(".")
        forged = b64url_encode(
            _json.dumps({"sub": "admin", "aud": self.AUD, "iss": self.ISS}).encode()
        )
        with pytest.raises(AuthError):
            self._auth(kp).authenticate(f"{h64}.{forged}.{sig}")

    def test_signature_from_other_key_rejected(self):
        from ser_etl_spark.gateway.access import AuthError

        kp, other = _rsa_keypair(), _rsa_keypair(seed=11)
        with pytest.raises(AuthError):
            self._auth(kp).authenticate(self._token(other))

    def test_alg_confusion_rejected(self):
        from ser_etl_spark.gateway.access import AuthError

        kp = _rsa_keypair()
        for alg in ("none", "HS256"):
            tok = self._token(kp, header={"alg": alg, "kid": "rsa1"})
            with pytest.raises(AuthError):
                self._auth(kp).authenticate(tok)

    def test_exp_nbf_with_leeway(self):
        from ser_etl_spark.gateway.access import AuthError
        from ser_etl_spark.gateway.jwt_rs256 import decode_rs256

        kp = _rsa_keypair()
        jwk = self._jwk(kp)
        expired = self._token(kp, claims={"exp": 1000})
        with pytest.raises(AuthError, match="expired"):
            decode_rs256(expired, jwk, self.AUD, self.ISS, now=2000)
        # inside leeway: accepted
        decode_rs256(expired, jwk, self.AUD, self.ISS, now=1010)
        future = self._token(kp, claims={"nbf": 5000})
        with pytest.raises(AuthError, match="not yet valid"):
            decode_rs256(future, jwk, self.AUD, self.ISS, now=1000)

    def test_aud_list_membership_and_iss(self):
        from ser_etl_spark.gateway.access import AuthError

        kp = _rsa_keypair()
        ok = self._token(kp, claims={"aud": [self.AUD, "other"]})
        assert self._auth(kp).authenticate(ok)["sub"] == "user1"
        for bad in (
            self._token(kp, claims={"aud": "other-api"}),
            self._token(kp, claims={"iss": "https://evil.example/"}),
        ):
            with pytest.raises(AuthError):
                self._auth(kp).authenticate(bad)

    def test_malformed_structures_rejected(self):
        from ser_etl_spark.gateway.access import AuthError

        kp = _rsa_keypair()
        auth = self._auth(kp)
        h64, p64, sig = self._token(kp).split(".")
        for bad in (f"{h64}.{p64}", "not-a-jwt", f"{h64}.{p64}.AAAA"):
            with pytest.raises(AuthError):
                auth.authenticate(bad)

    def test_non_rsa_jwk_rejected(self):
        from ser_etl_spark.gateway.access import AuthError
        from ser_etl_spark.gateway.jwt_rs256 import verify_rs256_signature

        with pytest.raises(AuthError, match="not an RSA key"):
            verify_rs256_signature(b"x", b"y", {"kty": "EC"})


class TestVersionDiff:
    def _publish_two(self, spark, tmp_path):
        from ser_etl_spark.etl.build import build_snapshot
        from ser_etl_spark.etl.publish import publish_snapshot

        store = str(tmp_path / "store")
        v1 = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id bigint, v string"
        )
        v2 = spark.createDataFrame(
            [(2, "b"), (3, "CHANGED"), (4, "d")], "id bigint, v string"
        )
        for i, df in enumerate((v1, v2), start=1):
            out = str(tmp_path / f"b{i}")
            r = build_snapshot({"t": df}, out, views={})
            publish_snapshot(
                out, store, tables=r.tables, views={},
                version=f"2024010{i}_000000",
            )
        return store

    def test_added_removed_changed(self, spark, tmp_path):
        from ser_etl_spark.gateway.catalog import SnapshotCatalog

        store = self._publish_two(spark, tmp_path)
        cat = SnapshotCatalog(spark, store)
        got = {
            r["id"]: r["change"]
            for r in cat.diff_versions(
                "20240101_000000", "20240102_000000", "t", "id"
            ).collect()
        }
        # key 2 is unchanged -> absent
        assert got == {1: "removed", 3: "changed", 4: "added"}

    def test_null_placement_moves_are_detected(self, spark, tmp_path):
        """xxhash64 skips null inputs, so a bare column hash can't tell
        (x, NULL) from (NULL, x) — the JSON-struct fingerprint keys each
        value by column name and must flag such rows as changed."""
        from ser_etl_spark.etl.build import build_snapshot
        from ser_etl_spark.etl.publish import publish_snapshot
        from ser_etl_spark.gateway.catalog import SnapshotCatalog

        store = str(tmp_path / "store_nulls")
        v1 = spark.createDataFrame(
            [(1, "x", None), (2, None, "y")], "id bigint, a string, b string"
        )
        # value moves between columns / null swaps with the neighbor
        v2 = spark.createDataFrame(
            [(1, None, "x"), (2, "y", None)], "id bigint, a string, b string"
        )
        for i, df in enumerate((v1, v2), start=1):
            out = str(tmp_path / f"bn{i}")
            r = build_snapshot({"t": df}, out, views={})
            publish_snapshot(
                out, store, tables=r.tables, views={},
                version=f"2024010{i}_000000",
            )
        cat = SnapshotCatalog(spark, store)
        got = {
            r["id"]: r["change"]
            for r in cat.diff_versions(
                "20240101_000000", "20240102_000000", "t", "id"
            ).collect()
        }
        assert got == {1: "changed", 2: "changed"}


def _publish_tables(spark, tmp_path, store, version, n, start=0):
    """Publish ``t`` (``k`` = start..start+n-1) and ``u`` (``k`` =
    start..start+n/10-1) as snapshot ``version`` of ``store``."""
    from ser_etl_spark.etl.build import build_snapshot
    from ser_etl_spark.etl.publish import publish_snapshot

    frames = {
        "t": spark.range(start, start + n).withColumnRenamed("id", "k"),
        "u": spark.range(start, start + n // 10).withColumnRenamed("id", "k"),
    }
    out = str(tmp_path / f"build_{version}")
    r = build_snapshot(frames, out, views={})
    publish_snapshot(out, store, tables=r.tables, views={}, version=version)


def _tagged_jobs(spark, tag: str) -> int:
    """Jobs carrying ``tag``, counted once the listener bus has caught up.
    The tag is a local property, so the executor's collect thread (an
    ``InheritableThread``) carries it too."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return len(list(sc.statusTracker().getJobIdsForTag(tag)))


class TestResultReuse:
    """Answers of a published (immutable) snapshot are reused per query
    text, row cap, plan and input files; everything else always runs."""

    def _engine(self, spark, tmp_path, n=100, **catalog_kw):
        store = str(tmp_path / "store")
        _publish_tables(spark, tmp_path, store, "20240101_000000", n)
        catalog = SnapshotCatalog(spark, store, **catalog_kw)
        return SparkQueryEngine(spark, catalog), store

    def test_repeat_is_a_hit_with_the_same_envelope_and_no_job(
        self, spark, tmp_path
    ):
        engine, _ = self._engine(spark, tmp_path)
        sc = spark.sparkContext
        q = "SELECT COUNT(*) FROM t"
        sc.addJobTag("reuse-miss")
        try:
            first = engine.execute_query(q)
        finally:
            sc.removeJobTag("reuse-miss")
        sc.addJobTag("reuse-hit")
        try:
            again = engine.execute_query(q)
        finally:
            sc.removeJobTag("reuse-hit")
        assert not first.cached and again.cached
        assert (again.data, again.columns, again.row_count, again.pattern) == (
            first.data, first.columns, first.row_count, first.pattern
        )
        assert first.data[0][first.columns[0]] == 100
        assert _tagged_jobs(spark, "reuse-miss") >= 1
        assert _tagged_jobs(spark, "reuse-hit") == 0

    def test_log_line_carries_cached(self, spark, tmp_path, caplog):
        import json as _json
        import logging

        from ser_etl_spark.gateway.access import (
            GatewayFront,
            StaticTokenAuthenticator,
        )

        engine, _ = self._engine(spark, tmp_path)
        front = GatewayFront(
            engine=engine,
            authenticator=StaticTokenAuthenticator(
                tokens={"good": {"scope": "read:analytics"}}
            ),
        )
        with caplog.at_level(logging.INFO, logger="ser_etl_spark.gateway"):
            for _ in range(2):
                front.query("good", "1.2.3.4", "SELECT COUNT(*) FROM u")
        lines = [_json.loads(r.message) for r in caplog.records]
        assert [line["cached"] for line in lines] == [False, True]

    def test_publish_and_refresh_miss_and_serve_the_new_version(
        self, spark, tmp_path
    ):
        engine, store = self._engine(spark, tmp_path)
        q = "SELECT MAX(k) FROM t"
        engine.execute_query(q)
        assert engine.execute_query(q).cached
        _publish_tables(spark, tmp_path, store, "20240102_000000", 200)
        engine.catalog.refresh(force=True)
        fresh = engine.execute_query(q)
        assert not fresh.cached
        assert fresh.data[0][fresh.columns[0]] == 199
        again = engine.execute_query(q)
        assert again.cached and again.data == fresh.data

    @pytest.mark.parametrize("expr", [
        "rand()", "uuid()", "now()", "current_timestamp()", "current_date()",
    ])
    def test_random_and_time_dependent_queries_never_hit(
        self, spark, tmp_path, expr
    ):
        engine, _ = self._engine(spark, tmp_path, n=10)
        q = f"SELECT {expr} FROM t WHERE 1=1"
        assert engine.validator.is_valid(q)
        for _ in range(2):
            assert not engine.execute_query(q).cached
        assert len(engine._results) == 0

    def test_plain_directory_never_caches(self, spark, sf_small):
        engine = SparkQueryEngine(spark, SnapshotCatalog(spark, sf_small))
        for _ in range(2):
            assert not engine.execute_query("SELECT COUNT(*) FROM orders").cached
        assert len(engine._results) == 0

    def test_failing_query_leaves_no_entry(self, spark, tmp_path):
        engine, _ = self._engine(spark, tmp_path)
        # an ANSI cast error (Spark 4's default mode) raised by the tasks
        q = "SELECT CAST(concat('x', k) AS INT) FROM t WHERE 1=1"
        df = engine.catalog.refresh().session.sql(q).limit(5000)
        # the text is eligible for reuse, so only the failure keeps it out
        assert engine._result_key(df, q, 5000) is not None
        for _ in range(2):
            with pytest.raises(Exception):
                engine.execute_query(q)
        assert len(engine._results) == 0

    def test_timed_out_query_leaves_no_entry(self, spark, tmp_path):
        store = str(tmp_path / "store")
        _publish_tables(spark, tmp_path, store, "20240101_000000", 3000)
        engine = SparkQueryEngine(
            spark,
            SnapshotCatalog(spark, store),
            QueryValidator(max_execution_time_s=1.0),
        )
        with pytest.raises(QueryTimeoutError):
            engine.execute_query("SELECT SUM(a.k * b.k * c.k) FROM t a, t b, t c")
        assert len(engine._results) == 0

    def test_hit_rows_cannot_corrupt_the_stored_copy(self, spark, tmp_path):
        engine, _ = self._engine(spark, tmp_path)
        q = "SELECT k, array(k, k + 1) AS ks FROM t WHERE k < 2"
        first = engine.execute_query(q)
        want = [{"k": 0, "ks": [0, 1]}, {"k": 1, "ks": [1, 2]}]
        for res in (first, engine.execute_query(q)):
            assert res.data == want
            res.data[0]["k"] = -1
            res.data[1]["ks"].append(99)
            res.data.append({})
            res.columns.append("x")
        last = engine.execute_query(q)
        assert last.cached and last.data == want and last.columns == ["k", "ks"]

    def test_row_bound_evicts_least_recently_used(
        self, spark, tmp_path, monkeypatch
    ):
        from ser_etl_spark.gateway import executor

        monkeypatch.setattr(executor, "RESULT_CACHE_MAX_ROWS", 3)
        engine, _ = self._engine(spark, tmp_path)
        a, b, c, d = (
            f"SELECT {f}(k) FROM t" for f in ("COUNT", "SUM", "MIN", "MAX")
        )
        for q in (a, b, c):
            assert not engine.execute_query(q).cached
        assert engine.execute_query(a).cached  # b is now least recent
        assert not engine.execute_query(d).cached  # evicts b
        assert len(engine._results) == 3
        assert [engine.execute_query(q).cached for q in (a, c, d, b)] == [
            True, True, True, False,
        ]
        # a result above the bound is served, never stored
        big = "SELECT k FROM t WHERE k < 10"
        for _ in range(2):
            res = engine.execute_query(big)
            assert res.row_count == 10 and not res.cached

    def test_row_total_holds_under_contention(self, monkeypatch):
        """8 threads (more than this host's cores) get and put through one
        cache with a tiny switch interval; a lost update to the row total
        would break the bound or the bookkeeping."""
        import sys
        import threading

        from ser_etl_spark.gateway import executor

        monkeypatch.setattr(executor, "RESULT_CACHE_MAX_ROWS", 50)
        cache = executor._ResultCache()

        def worker(w: int) -> None:
            for i in range(2000):
                key = (w * 7 + i) % 40
                if cache.get(key) is None:
                    cache.put(key, ["c"], [None] * (key % 5))

        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=60)
        finally:
            sys.setswitchinterval(interval)
        assert not any(th.is_alive() for th in threads)
        held = sum(max(1, len(rows)) for _, rows in cache._entries.values())
        assert cache._rows == held <= 50

    def test_concurrent_readers_across_flips(self, spark, tmp_path):
        """3 threads repeat texts over two tables while two new versions
        are published under a short TTL. Every answer is one published
        version's answer, and once a version has been current for longer
        than the TTL (plus slack for a slow re-registration), no request
        is answered from an older version — so no stored answer outlives
        the files it was read from."""
        import threading
        import time

        ttl_s, slack_s, dwell_s = 0.25, 1.0, 1.5
        sizes = (100, 200, 300)
        engine, store = self._engine(spark, tmp_path, n=sizes[0], ttl_s=ttl_s)
        expected = {
            "SELECT COUNT(*) FROM t": [n for n in sizes],
            "SELECT MAX(k) FROM t": [n - 1 for n in sizes],
            "SELECT SUM(k) FROM u": [sum(range(n // 10)) for n in sizes],
        }
        texts = list(expected)
        replies: list[tuple[str, float, object, bool]] = []
        errors: list[BaseException] = []
        stop = threading.Event()

        def reader(offset: int) -> None:
            i = offset
            while not stop.is_set():
                q = texts[i % len(texts)]
                i += 1
                started = time.monotonic()
                try:
                    res = engine.execute_query(q)
                except BaseException as exc:  # surfaced below
                    errors.append(exc)
                    return
                replies.append(
                    (q, started, res.data[0][res.columns[0]], res.cached)
                )

        threads = [threading.Thread(target=reader, args=(i,)) for i in range(3)]
        for th in threads:
            th.start()
        published = [0.0]
        try:
            for v, n in enumerate(sizes[1:], start=2):
                time.sleep(dwell_s)
                _publish_tables(spark, tmp_path, store, f"2024010{v}_000000", n)
                published.append(time.monotonic())
            time.sleep(dwell_s + slack_s)
        finally:
            stop.set()
            for th in threads:
                th.join(timeout=120)
        assert not any(th.is_alive() for th in threads)
        assert errors == []
        assert any(cached for *_, cached in replies)
        for q, started, value, cached in replies:
            assert value in expected[q], (q, value, cached)
            version = expected[q].index(value)
            current = max(
                v for v, at in enumerate(published)
                if started > at + ttl_s + slack_s
            )
            assert version >= current, (q, value, cached, started)
        # settled: the last version, first read then reused
        for q in texts:
            first, again = engine.execute_query(q), engine.execute_query(q)
            assert first.data[0][first.columns[0]] == expected[q][-1]
            assert again.cached and again.data == first.data


class TestGenerations:
    """Every request is served from one immutable generation: the views
    of one published version, in a session of their own."""

    #: 10 rows over v1 (``t.k`` in [0, 100), ``u.k`` in [0, 10)), 20 over
    #: v2 (``t.k`` in [1000, 1200), ``u.k`` in [1000, 1020)), and 0 when
    #: one version's ``t`` meets the other's ``u``.
    JOIN = "SELECT COUNT(*) FROM t JOIN u ON t.k = u.k"

    def _engine(self, spark, tmp_path, **catalog_kw):
        store = str(tmp_path / "store")
        _publish_tables(spark, tmp_path, store, "20240101_000000", 100)
        engine = SparkQueryEngine(spark, SnapshotCatalog(spark, store, **catalog_kw))
        engine.catalog.refresh()
        _publish_tables(
            spark, tmp_path, store, "20240102_000000", 200, start=1000
        )
        return engine

    def _reader(self, engine, answers, errors):
        def read() -> None:
            try:
                res = engine.execute_query(self.JOIN)
                answers.append(res.data[0][res.columns[0]])
            except Exception as exc:  # surfaced by the caller
                errors.append(exc)

        return read

    def test_query_during_a_flip_reads_one_version(
        self, spark, tmp_path, monkeypatch
    ):
        """A query analysed while a refresh is registering the next
        version's first table joins tables of one version."""
        import threading

        engine = self._engine(spark, tmp_path)
        answers, errors = [], []
        read = self._reader(engine, answers, errors)
        refresher = threading.get_ident()
        frame_type = type(spark.range(0))
        register = frame_type.createOrReplaceTempView
        fired = []

        def register_then_read(df, name):
            register(df, name)
            if threading.get_ident() == refresher and not fired:
                fired.append(name)
                reader = threading.Thread(target=read)
                reader.start()
                reader.join()

        monkeypatch.setattr(
            frame_type, "createOrReplaceTempView", register_then_read
        )
        engine.catalog.refresh(force=True)
        monkeypatch.undo()
        assert fired and errors == []
        assert answers[0] in (10, 20)
        res = engine.execute_query(self.JOIN)
        assert res.data[0][res.columns[0]] == 20

    def test_one_refresher_per_flip(self, spark, tmp_path, monkeypatch):
        """Three requests find v1 stale once v2 is published; one of them
        registers v2 (slowly) and the others serve v1 meanwhile."""
        import threading
        import time

        from ser_etl_spark.gateway import catalog as catalog_mod

        engine = self._engine(spark, tmp_path, ttl_s=0.0)
        v2_dir = engine.catalog.read_manifest()["snapshot_dir"]
        register = catalog_mod.register_views
        passes = []

        def slow_register(session, snapshot_dir, **kwargs):
            passes.append(snapshot_dir)
            time.sleep(0.5)
            return register(session, snapshot_dir, **kwargs)

        monkeypatch.setattr(catalog_mod, "register_views", slow_register)
        answers, errors = [], []
        read = self._reader(engine, answers, errors)
        threads = [threading.Thread(target=read) for _ in range(3)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
        assert errors == []
        assert passes.count(v2_dir) == 1
        assert len(answers) == 3 and set(answers) <= {10, 20}
        assert engine.catalog.refresh().snapshot_dir == v2_dir

    def test_refresh_stress_builds_each_version_once(
        self, tmp_path, monkeypatch
    ):
        """8 threads (more than this host's cores) refresh a zero-TTL
        catalog with a 1 µs switch interval while the manifest flips 30
        times: each version is built at most once, and no thread sees an
        older version after a newer one. Registration is stubbed out, so
        only the catalog's own bookkeeping runs."""
        import json
        import os
        import sys
        import threading
        import time

        from ser_etl_spark.gateway import catalog as catalog_mod

        current = tmp_path / "current"
        current.mkdir()

        def publish(v: int) -> None:
            doc = {"version": v, "snapshot_dir": f"/snapshots/{v}"}
            (current / "next.json").write_text(json.dumps(doc))
            os.replace(current / "next.json", current / "manifest.json")

        built = []
        monkeypatch.setattr(
            catalog_mod,
            "register_views",
            lambda session, snapshot_dir, **kw: built.append(snapshot_dir) or {},
        )
        monkeypatch.setattr(SnapshotCatalog, "_session", lambda self: None)
        publish(0)
        cat = SnapshotCatalog(None, str(tmp_path), ttl_s=0.0)
        stop = threading.Event()
        regressions = []

        def refresher() -> None:
            last = -1
            while not stop.is_set():
                v = int(cat.refresh().version)
                if v < last:
                    regressions.append((last, v))
                last = v

        threads = [threading.Thread(target=refresher) for _ in range(8)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for th in threads:
                th.start()
            for v in range(1, 31):
                time.sleep(0.01)
                publish(v)
            time.sleep(0.05)
        finally:
            stop.set()
            for th in threads:
                th.join(timeout=60)
            sys.setswitchinterval(interval)
        assert not any(th.is_alive() for th in threads)
        assert regressions == []
        assert len(built) == len(set(built)) and "/snapshots/30" in built

    def test_caller_views_stay_outside_the_gateway(self, spark, sf_small):
        """A temp view the caller created on its own session is neither
        queryable nor listed through the gateway."""
        spark.range(3).createOrReplaceTempView("caller_only_view")
        try:
            engine = SparkQueryEngine(spark, SnapshotCatalog(spark, sf_small))
            with pytest.raises(Exception, match="caller_only_view"):
                engine.execute_query("SELECT * FROM caller_only_view")
            schema = engine.get_schema()
            assert "lineitem" in schema and "caller_only_view" not in schema
            http = TestHttpIngress()
            status, body, _ = http._get(
                http._app(engine), "/schema", token="good"
            )
            assert status == 200 and body["schema"] == schema
        finally:
            spark.catalog.dropTempView("caller_only_view")

    def test_queries_run_under_the_callers_sql_conf(self, spark, sf_small):
        key = "spark.sql.ansi.enabled"
        prior = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            engine = SparkQueryEngine(spark, SnapshotCatalog(spark, sf_small))
            res = engine.execute_query(
                "SELECT CAST('x' AS INT) AS v FROM orders WHERE o_orderkey = 1"
            )
            assert res.data == [{"v": None}]
        finally:
            spark.conf.set(key, prior)


class TestExplain:
    def test_explain_returns_plan_without_running(self, spark, sf_small):
        from ser_etl_spark.gateway.catalog import SnapshotCatalog
        from ser_etl_spark.gateway.executor import SparkQueryEngine

        engine = SparkQueryEngine(spark, SnapshotCatalog(spark, sf_small))
        plan = engine.explain_query(
            "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
            "WHERE o_totalprice > 1000 GROUP BY o_orderpriority"
        )
        assert "PushedFilters" in plan or "Filter" in plan
        assert "HashAggregate" in plan
        # the explained plan carries the SAME admission row cap the
        # executor applies, so what you explain is what actually runs
        assert "CollectLimit" in plan or "TakeOrderedAndProject" in plan

    def test_explain_is_gated_by_the_same_validator(self, spark, sf_small):
        from ser_etl_spark.gateway.catalog import SnapshotCatalog
        from ser_etl_spark.gateway.executor import SparkQueryEngine
        from ser_etl_spark.gateway.validator import QueryRejected

        engine = SparkQueryEngine(spark, SnapshotCatalog(spark, sf_small))
        with pytest.raises(QueryRejected):
            engine.explain_query("DROP TABLE orders")


class TestSnapshotAnnIndex:
    """Directive-r7 #3: the serving path must exercise the same ANN
    artifact the ETL publishes — probes through a published snapshot
    resolve `<table>_ann_index` with ZERO on-demand rebuild, including
    after an `upsert_ann_index` delta."""

    def _publish_with_index(self, spark, sf_small, tmp_path):
        from ser_etl_spark.etl.build import TableLayout, build_snapshot
        from ser_etl_spark.etl.publish import publish_snapshot
        from ser_etl_spark.gateway.catalog import SnapshotCatalog
        from ser_etl_spark.sources.parquet import load_table

        emb = load_table(spark, sf_small, "embeddings")
        build = str(tmp_path / "build")
        report = build_snapshot(
            {"embeddings": emb},
            build,
            layouts={
                "embeddings": TableLayout(unique_key="vec_id", ann_index=True)
            },
            views={},
        )
        store = str(tmp_path / "store")
        publish_snapshot(build, store, tables=report.tables, views={})
        return SnapshotCatalog(spark, store)

    def test_probe_reads_published_index_zero_rebuild(
        self, spark, sf_small, tmp_path
    ):
        import os
        import tempfile

        from ser_etl_spark.operators import similarity as S

        cat = self._publish_with_index(spark, sf_small, tmp_path)
        snap = cat.refresh().snapshot_dir
        idx = cat.ann_index_dir()
        assert idx == os.path.join(snap, "embeddings_ann_index")
        # ensure_ann_index resolves the SAME published artifact
        assert S.ensure_ann_index(spark, snap) == idx

        uid = getattr(os, "getuid", lambda: "na")()
        cache_root = os.path.join(
            tempfile.gettempdir(), f"ser_etl_ann_index_{uid}"
        )
        before = (
            set(os.listdir(cache_root)) if os.path.isdir(cache_root) else set()
        )
        vec = S._query_vector(spark, snap)
        assert len(S.lsh_ann_topk_indexed(spark, snap, vec, k=10).collect()) > 0
        assert len(S.ivf_ann_topk_indexed(spark, snap, vec, k=10).collect()) > 0
        assert (
            len(S.quantized_rescore_topk_indexed(spark, snap, vec).collect())
            > 0
        )
        after = (
            set(os.listdir(cache_root)) if os.path.isdir(cache_root) else set()
        )
        assert before == after  # zero on-demand rebuild

    def test_snapshot_without_index_returns_none(self, spark, sf_small):
        from ser_etl_spark.gateway.catalog import SnapshotCatalog

        cat = SnapshotCatalog(spark, sf_small)  # plain fixture dir, no index
        assert cat.ann_index_dir() is None


class TestSnapshotTextArtifacts:
    """r8: the band table and postings index resolve through the catalog
    with the same published-first + freshness contract as the ANN
    index, and BM25 through a published snapshot rebuilds nothing."""

    def test_published_artifacts_resolve_and_serve(
        self, spark, sf_small, tmp_path
    ):
        import os
        import tempfile

        from ser_etl_spark.etl.build import TableLayout, build_snapshot
        from ser_etl_spark.etl.publish import publish_snapshot
        from ser_etl_spark.operators.text import bm25_search_indexed
        from ser_etl_spark.sources.parquet import load_table

        docs = load_table(spark, sf_small, "documents")
        build = str(tmp_path / "build")
        report = build_snapshot(
            {"documents": docs},
            build,
            layouts={
                "documents": TableLayout(
                    unique_key="doc_id",
                    minhash_bands=True,
                    text_postings=True,
                )
            },
            views={},
        )
        store = str(tmp_path / "store")
        publish_snapshot(build, store, tables=report.tables, views={})
        cat = SnapshotCatalog(spark, store)
        snap = cat.refresh().snapshot_dir
        assert cat.minhash_bands_dir() == os.path.join(
            snap, "documents_minhash_bands"
        )
        posts = cat.text_postings_dir()
        assert posts == os.path.join(snap, "documents_text_postings")

        uid = getattr(os, "getuid", lambda: "na")()
        cache_root = os.path.join(
            tempfile.gettempdir(), f"ser_etl_text_postings_{uid}"
        )
        before = (
            set(os.listdir(cache_root)) if os.path.isdir(cache_root) else set()
        )
        assert len(bm25_search_indexed(spark, snap).collect()) > 0
        after = (
            set(os.listdir(cache_root)) if os.path.isdir(cache_root) else set()
        )
        assert before == after  # zero on-demand rebuild through the snapshot

    def test_plain_dir_returns_none(self, spark, sf_small):
        cat = SnapshotCatalog(spark, sf_small)
        assert cat.minhash_bands_dir() is None
        assert cat.text_postings_dir() is None


class TestHttpIngress:
    """The framework-free WSGI binding (r9 directive #5): route →
    status-code → envelope parity with the reference's FastAPI app
    (api-service/src/main.py:78-130), driven in-process."""

    def _app(self, engine, max_requests=100):
        from ser_etl_spark.gateway.access import (
            GatewayFront,
            RateLimiter,
            StaticTokenAuthenticator,
        )
        from ser_etl_spark.gateway.http import GatewayHTTP

        auth = StaticTokenAuthenticator(tokens={
            "good": {"sub": "u1", "scope": "read:analytics"},
            "noscope": {"sub": "u2", "scope": "openid"},
        })
        return GatewayHTTP(GatewayFront(
            engine=engine,
            authenticator=auth,
            limiter=RateLimiter(max_requests=max_requests),
        ))

    @staticmethod
    def _get(app, path, q=None, token=None, fwd=None, method="GET",
             headers=None):
        import json as _json
        from urllib.parse import quote

        environ = {
            "REQUEST_METHOD": method,
            "PATH_INFO": path,
            "QUERY_STRING": f"q={quote(q)}" if q else "",
            "REMOTE_ADDR": "9.9.9.9",
        }
        if token is not None:
            environ["HTTP_AUTHORIZATION"] = f"Bearer {token}"
        if fwd is not None:
            environ["HTTP_X_FORWARDED_FOR"] = fwd
        for k, v in (headers or {}).items():
            environ["HTTP_" + k.upper().replace("-", "_")] = v
        captured = {}

        def start_response(status, headers):
            captured["status"] = int(status.split()[0])
            captured["headers"] = dict(headers)

        body = b"".join(app(environ, start_response))
        return captured["status"], _json.loads(body), captured["headers"]

    def test_query_success_envelope(self, engine):
        app = self._app(engine)
        st, body, headers = self._get(
            app, "/query", q="SELECT COUNT(*) AS n FROM lineitem",
            token="good",
        )
        assert st == 200
        assert body["success"] is True and body["row_count"] == 1
        assert body["columns"] == ["n"] and body["data"][0]["n"] > 0
        assert body["execution_time_ms"] > 0
        assert headers["Content-Type"] == "application/json"

    def test_status_code_mapping(self, engine):
        """The reference's table: 400 validation, 401 auth, 403 scope,
        429 rate limit, 404/405 routing, 400 missing param."""
        app = self._app(engine, max_requests=2)
        good_q = "SELECT COUNT(*) AS n FROM lineitem"
        # 401: no header at all, and an unknown token (no limiter spend:
        # auth precedes the rate limit, like the reference's Depends)
        assert self._get(app, "/query", q=good_q)[0] == 401
        assert self._get(app, "/query", q=good_q, token="bad")[0] == 401
        # 403: authenticated but missing read:analytics
        st, body, _ = self._get(app, "/query", q=good_q, token="noscope")
        assert st == 403 and "scope" in body["detail"].lower()
        # 400: missing q (parameter check — no limiter spend)
        assert self._get(app, "/query", token="good")[0] == 400
        # 400: validator rejects DML. This DOES spend rate-limit budget —
        # the limiter runs at the route boundary, before validation,
        # exactly like the reference's slowapi decorator (spend 1 of 2)
        st, body, _ = self._get(
            app, "/query", q="DROP TABLE lineitem", token="good"
        )
        assert st == 400 and body["detail"]
        # 429: the window (2) is exhausted by the 400 above + one 200
        assert self._get(app, "/query", q=good_q, token="good")[0] == 200
        st, body, _ = self._get(app, "/query", q=good_q, token="good")
        assert st == 429 and "Rate limit exceeded" in body["detail"]
        # routing
        assert self._get(app, "/nope")[0] == 404
        assert self._get(app, "/query", q=good_q, token="good",
                         method="POST")[0] == 405

    def test_rate_limit_keys_on_forwarded_client(self, engine):
        """forwarded_allow_ips='*' behavior: X-Forwarded-For's first hop
        is the client key, so distinct proxied clients have distinct
        budgets."""
        app = self._app(engine, max_requests=1)
        q = "SELECT COUNT(*) AS n FROM lineitem"
        assert self._get(app, "/query", q=q, token="good",
                         fwd="1.1.1.1, 10.0.0.1")[0] == 200
        assert self._get(app, "/query", q=q, token="good",
                         fwd="2.2.2.2, 10.0.0.1")[0] == 200
        assert self._get(app, "/query", q=q, token="good",
                         fwd="1.1.1.1, 10.0.0.1")[0] == 429

    def test_health_and_schema_routes(self, engine):
        app = self._app(engine)
        st, body, _ = self._get(app, "/health")  # unauthenticated
        assert st == 200 and body["status"] == "healthy"
        assert "snapshot_dir" not in body
        # schema requires auth (Depends(get_current_user))
        assert self._get(app, "/schema")[0] == 401
        st, body, _ = self._get(app, "/schema", token="good")
        assert st == 200 and "lineitem" in body["schema"]
        assert "l_orderkey" in body["schema"]["lineitem"]

    def test_500_hides_execution_internals(self, engine):
        """An admitted query that fails at execution maps to a bare 500
        'Query execution failed' (main.py:129-130 — no str(e))."""
        app = self._app(engine)
        st, body, _ = self._get(
            app, "/query",
            q="SELECT COUNT(*) AS n FROM no_such_table_anywhere",
            token="good",
        )
        assert st == 500 and body["detail"] == "Query execution failed"

    def test_cors_simple_response_headers(self, engine):
        """CORSMiddleware parity (main.py:44-52, config.py:26): with the
        default allow_origins=['*'], every response to a request
        carrying an Origin gets the literal-* allow-origin plus
        allow-credentials; requests WITHOUT an Origin stay header-free."""
        app = self._app(engine)
        st, _, h = self._get(
            app, "/query", q="SELECT COUNT(*) AS n FROM lineitem",
            token="good", headers={"Origin": "https://dash.example"},
        )
        assert st == 200
        assert h["Access-Control-Allow-Origin"] == "*"
        assert h["Access-Control-Allow-Credentials"] == "true"
        # error responses are CORS-visible too (the browser needs the
        # header to expose the 401 body to the page)
        st, _, h = self._get(
            app, "/query", q="SELECT 1",
            headers={"Origin": "https://dash.example"},
        )
        assert st == 401 and h["Access-Control-Allow-Origin"] == "*"
        # no Origin → no CORS headers
        _, _, h = self._get(app, "/health")
        assert "Access-Control-Allow-Origin" not in h
        # credentialed (cookie-bearing) request under allow-all: the
        # origin is ECHOED with Vary instead of the literal * — a
        # starred credentialed response is invalid and starlette's
        # has_cookie branch echoes (r10 review finding)
        _, _, h = self._get(
            app, "/health", headers={
                "Origin": "https://dash.example", "Cookie": "sid=1",
            },
        )
        assert h["Access-Control-Allow-Origin"] == "https://dash.example"
        assert h["Vary"] == "Origin"

    def test_cors_restricted_origin_echo_and_vary(self, engine):
        """A restricted origin list echoes the matching origin (with
        Vary: Origin) and omits headers for a non-listed one."""
        from ser_etl_spark.gateway.http import GatewayHTTP

        app = self._app(engine)
        app = GatewayHTTP(app.front, cors_origins=["https://ok.example"])
        _, _, h = self._get(
            app, "/health", headers={"Origin": "https://ok.example"},
        )
        assert h["Access-Control-Allow-Origin"] == "https://ok.example"
        assert h["Vary"] == "Origin"
        # a disallowed origin is withheld the allow-origin header, but
        # the config headers (credentials, Vary) still ride — exactly
        # starlette's precomputed simple_headers
        _, _, h = self._get(
            app, "/health", headers={"Origin": "https://evil.example"},
        )
        assert "Access-Control-Allow-Origin" not in h
        assert h["Vary"] == "Origin"
        assert h["Access-Control-Allow-Credentials"] == "true"

    def test_cors_preflight(self, engine):
        """OPTIONS + Access-Control-Request-Method is answered 200
        WITHOUT auth, with the configured methods, echoed headers
        (allow_headers=['*']), and max-age; a disallowed method or
        origin gets starlette's 400; plain OPTIONS is a normal 405."""
        from ser_etl_spark.gateway.http import GatewayHTTP

        app = self._app(engine)
        st, _, h = self._get(
            app, "/query", method="OPTIONS", headers={
                "Origin": "https://dash.example",
                "Access-Control-Request-Method": "GET",
                "Access-Control-Request-Headers": "authorization",
            },
        )
        assert st == 200  # no token on the preflight, yet not 401
        # allow-all + credentials: starlette's preflight_explicit_allow_
        # origin branch ECHOES the origin with Vary: Origin — never the
        # literal '*', which browsers reject on credentialed preflights
        # (r10 ADVICE)
        assert h["Access-Control-Allow-Origin"] == "https://dash.example"
        assert h["Vary"] == "Origin"
        assert h["Access-Control-Allow-Methods"] == "GET, POST"
        assert h["Access-Control-Allow-Headers"] == "authorization"
        assert h["Access-Control-Max-Age"] == "600"
        assert h["Access-Control-Allow-Credentials"] == "true"
        # disallowed method: 400 WITH the accumulated preflight headers
        # (starlette returns its failure response headers=preflight)
        st, body, h = self._get(
            app, "/query", method="OPTIONS", headers={
                "Origin": "https://dash.example",
                "Access-Control-Request-Method": "DELETE",
            },
        )
        assert st == 400 and "CORS" in body["detail"]
        assert h["Access-Control-Allow-Methods"] == "GET, POST"
        # the echoed origin rides even a failed preflight (starlette
        # returns its failure response headers=preflight)
        assert h["Access-Control-Allow-Origin"] == "https://dash.example"
        # disallowed origin under a restricted list: 400, no allow-origin
        rapp = GatewayHTTP(app.front, cors_origins=["https://ok.example"])
        st, _, h = self._get(
            rapp, "/query", method="OPTIONS", headers={
                "Origin": "https://evil.example",
                "Access-Control-Request-Method": "GET",
            },
        )
        assert st == 400
        assert "Access-Control-Allow-Origin" not in h
        assert h["Vary"] == "Origin"
        # plain OPTIONS (no request-method header): not a preflight
        assert self._get(app, "/query", method="OPTIONS")[0] == 405
        # OPTIONS with a request-method header but NO Origin: starlette
        # gates on Origin first, so this passes through to the app (405)
        # rather than being treated as a (failed) preflight
        st, _, _ = self._get(
            app, "/query", method="OPTIONS",
            headers={"Access-Control-Request-Method": "GET"},
        )
        assert st == 405

    def test_serves_over_a_real_socket(self, engine):
        """End-to-end through the stdlib WSGI server: the same app
        answers on a real port (single-request smoke — the in-process
        contract tests above carry the full matrix)."""
        import json as _json
        import threading
        from urllib.request import Request, urlopen

        from ser_etl_spark.gateway.http import serve

        app = self._app(engine)
        srv = serve(app, "127.0.0.1", 0)
        port = srv.server_address[1]
        t = threading.Thread(target=srv.handle_request, daemon=True)
        t.start()
        req = Request(
            f"http://127.0.0.1:{port}/query?q=SELECT%20COUNT(*)%20AS%20n%20FROM%20region",
            headers={"Authorization": "Bearer good"},
        )
        with urlopen(req, timeout=30) as resp:
            assert resp.status == 200
            body = _json.loads(resp.read())
        assert body["success"] is True and body["data"][0]["n"] > 0
        t.join(timeout=30)
        srv.server_close()
