"""Gateway access control: auth (C10), scopes (C11), rate limit (C12),
request logging (C13).

The reference fronts its executor with a middleware stack — Auth0 JWT
verification (``/root/reference/api-service/src/auth.py:27-120``), a
50 req/min/client limiter (``api-service/src/rate_limiter.py:15-24``,
defaults ``config.py:22-23``) and a structured request log
(``api-service/src/main.py:57-75``). These are engine-adjacent concerns
(no Spark involved), so they live in one thin module the HTTP layer —
or any embedding application — composes in front of
:class:`~ser_etl_spark.gateway.executor.SparkQueryEngine`.

Design notes:

- The JWT verifier mirrors the reference's flow (unverified header →
  ``kid`` → JWKS key lookup → signature+audience+issuer verification)
  with REAL cryptographic verification by default: the sandbox has no
  ``pyjwt``, but RS256 *verification* is pure modular arithmetic —
  :mod:`.jwt_rs256` implements RSASSA-PKCS1-v1_5/SHA-256 per RFC 8017
  with stdlib only. The JWKS fetcher and decode primitive stay
  injectable (no network here; tests sign with a generated keypair).
- The rate limiter is a sliding 60 s window per client key, O(1) memory
  per active client, thread-safe. In a multi-worker deployment each
  worker holds its own window (exactly the reference's in-memory
  slowapi behavior); swap the store for a shared one if global limits
  are needed.
"""

from __future__ import annotations

import json
import logging
import threading
import time
from collections import deque
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any, Protocol


class AuthError(Exception):
    """Token missing/invalid — the reference's HTTP 401."""


class ScopeError(Exception):
    """Authenticated but lacking a required scope — HTTP 403."""


class RateLimitExceeded(Exception):
    """Client exceeded the request budget — HTTP 429."""


# ---------------------------------------------------------------------------
# C10: token authentication
# ---------------------------------------------------------------------------


class Authenticator(Protocol):
    """Anything that turns a bearer token into a claims dict (or raises
    :class:`AuthError`)."""

    def authenticate(self, token: str) -> dict[str, Any]: ...


@dataclass
class StaticTokenAuthenticator:
    """Shared-secret tokens -> claims; the test/dev implementation."""

    tokens: dict[str, dict[str, Any]]

    def authenticate(self, token: str) -> dict[str, Any]:
        try:
            return self.tokens[token]
        except KeyError:
            raise AuthError("Invalid token") from None


@dataclass
class JwksAuthenticator:
    """JWKS-backed JWT verification in the reference's shape
    (``auth.py:27-81``): header ``kid`` selects the JWKS key, then the
    decode primitive verifies signature + audience + issuer.

    ``fetch_jwks``   -> JWKS document ``{"keys": [{"kid": ..., ...}]}``
                        (fetched once, cached — reference caches forever
                        in-process).
    ``decode``       -> ``(token, jwk, audience, issuer) -> claims``;
                        raise to reject. Defaults to the pure-stdlib
                        RS256 verifier (:mod:`.jwt_rs256` — real
                        RSASSA-PKCS1-v1_5/SHA-256, pyjwt-parity claim
                        checks); injectable for tests or to swap in an
                        accelerated library.
    ``header_reader``-> token -> unverified header dict (needs no key);
                        defaults to :func:`.jwt_rs256.peek_header`.
    """

    fetch_jwks: Callable[[], dict[str, Any]]
    audience: str
    issuer: str
    decode: Callable[[str, dict[str, Any], str, str], dict[str, Any]] | None = None
    header_reader: Callable[[str], dict[str, Any]] | None = None
    _jwks: dict[str, Any] | None = field(default=None, repr=False)

    def __post_init__(self) -> None:
        # local import: jwt_rs256 imports AuthError from this module
        from ser_etl_spark.gateway import jwt_rs256

        if self.decode is None:
            self.decode = jwt_rs256.decode_rs256
        if self.header_reader is None:
            self.header_reader = jwt_rs256.peek_header

    def _signing_key(self, token: str) -> dict[str, Any]:
        try:
            kid = self.header_reader(token)["kid"]
        except Exception as exc:
            raise AuthError("Invalid token header") from exc
        if self._jwks is None:
            self._jwks = self.fetch_jwks()
        for key in self._jwks.get("keys", ()):
            if key.get("kid") == kid:
                return key
        raise AuthError("Unable to find signing key")

    def authenticate(self, token: str) -> dict[str, Any]:
        key = self._signing_key(token)
        try:
            return self.decode(token, key, self.audience, self.issuer)
        except AuthError:
            raise
        except Exception as exc:
            raise AuthError("Invalid token") from exc


# ---------------------------------------------------------------------------
# C11: scope check
# ---------------------------------------------------------------------------


def require_scope(claims: dict[str, Any], required_scope: str) -> dict[str, Any]:
    """OAuth2 scope check in the reference's shape (``auth.py:103-120``):
    the ``scope`` claim is a space-separated string; absence of the
    required scope is a 403-class error, not a 401."""
    scopes = str(claims.get("scope", "")).split()
    if required_scope not in scopes:
        raise ScopeError(f"Missing required scope: {required_scope}")
    return claims


# ---------------------------------------------------------------------------
# C12: rate limiting
# ---------------------------------------------------------------------------


class RateLimiter:
    """Sliding-window limiter: at most ``max_requests`` per ``window_s``
    seconds per client key (reference default 50/min/IP,
    ``config.py:22-23``)."""

    def __init__(
        self,
        max_requests: int = 50,
        window_s: float = 60.0,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.max_requests = max_requests
        self.window_s = window_s
        self._clock = clock
        self._hits: dict[str, deque[float]] = {}
        self._lock = threading.Lock()

    def check(self, client_key: str) -> None:
        """Record one request; raise :class:`RateLimitExceeded` if the
        client is over budget (the rejected request does NOT consume
        budget, matching slowapi)."""
        now = self._clock()
        with self._lock:
            window = self._hits.setdefault(client_key, deque())
            while window and now - window[0] >= self.window_s:
                window.popleft()
            if len(window) >= self.max_requests:
                raise RateLimitExceeded(
                    f"{self.max_requests} per {self.window_s:g} seconds"
                )
            window.append(now)

    def remaining(self, client_key: str) -> int:
        now = self._clock()
        with self._lock:
            window = self._hits.get(client_key, deque())
            live = sum(1 for t in window if now - t < self.window_s)
            return max(0, self.max_requests - live)


# ---------------------------------------------------------------------------
# C13: structured request logging
# ---------------------------------------------------------------------------

logger = logging.getLogger("ser_etl_spark.gateway")


def log_request(
    event: str,
    *,
    client: str,
    status: str,
    duration_ms: float,
    pattern: str | None = None,
    **extra: Any,
) -> None:
    """One structured JSON log line per request (reference
    ``main.py:57-75``: method/path/status/duration/client)."""
    payload = {
        "event": event,
        "client": client,
        "status": status,
        "duration_ms": round(duration_ms, 2),
        "pattern": pattern,
        **extra,
    }
    logger.info(json.dumps(payload, sort_keys=True, default=str))


# ---------------------------------------------------------------------------
# The composed front: auth -> scope -> rate limit -> engine, logged
# ---------------------------------------------------------------------------


@dataclass
class GatewayFront:
    """The reference's middleware stack as a callable facade.

    Order matches the reference: authentication (401) and scope (403)
    precede rate limiting (429) precede validation/execution (400/500 —
    raised by the engine); every outcome emits one structured log line.
    """

    engine: Any  # SparkQueryEngine (duck-typed to keep this module Spark-free)
    authenticator: Authenticator
    limiter: RateLimiter = field(default_factory=RateLimiter)
    required_scope: str = "read:analytics"

    def query(self, token: str, client_key: str, sql: str):
        start = time.monotonic()
        status = "ok"
        pattern = None
        cached = False
        try:
            claims = self.authenticator.authenticate(token)
            require_scope(claims, self.required_scope)
            self.limiter.check(client_key)
            result = self.engine.execute_query(sql)
            pattern, cached = result.pattern, result.cached
            return result
        except AuthError:
            status = "401"
            raise
        except ScopeError:
            status = "403"
            raise
        except RateLimitExceeded:
            status = "429"
            raise
        except Exception:
            status = "error"
            raise
        finally:
            log_request(
                "gateway.query",
                client=client_key,
                status=status,
                duration_ms=(time.monotonic() - start) * 1000.0,
                pattern=pattern,
                cached=cached,
            )

    def health(self) -> dict:
        """Liveness + snapshot-freshness envelope — the reference's
        ``GET /health`` (``api-service/src/main.py:78-82``) extended
        with what a snapshot-serving gateway actually needs monitored:
        resolved snapshot version and its age against the catalog TTL.
        Unauthenticated by design (liveness probes run before any token
        exists) and side-effect-free (no refresh is forced) — so the
        envelope carries freshness SIGNALS only: the resolved filesystem
        path and the registered-table list stay out of it (r9 ADVICE —
        the reference's unauthenticated /health discloses status +
        timestamp, not topology; authenticated callers get the table
        list via the schema surface)."""
        doc: dict[str, Any] = {"status": "healthy", "timestamp": time.time()}
        catalog = getattr(self.engine, "catalog", None)
        if catalog is not None and hasattr(catalog, "status"):
            full = catalog.status()
            doc.update({
                k: full[k]
                for k in ("snapshot_version", "snapshot_age_s", "ttl_s",
                          "stale")
                if k in full
            })
        return doc

    def close(self) -> None:
        """Shutdown cleanup — the reference's ``shutdown_event`` hook
        (``api-service/src/main.py:133-137``): release the catalog's
        cached state and log the shutdown. Idempotent; the front remains
        usable afterwards (the next query re-resolves the snapshot)."""
        catalog = getattr(self.engine, "catalog", None)
        if catalog is not None and hasattr(catalog, "close"):
            catalog.close()
        log_request(
            "gateway.shutdown", client="-", status="ok", duration_ms=0.0
        )
