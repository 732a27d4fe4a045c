"""Role-based authorization, mirroring the reference's user-role model.

The reference gates every operator dispatch on the caller's role in the
session (oph_auth.h:79-96 role bits; oph_workflow_engine checks the required
role from each operator's XML descriptor before serving). Roles are
cumulative: write implies read, execute implies write, admin implies
execute, owner implies everything (oph_auth.h:94-96 OPH_ROLE_WRITER /
ADMINISTRATOR / ALL composites).

Enforcement points in this engine:
  - WorkflowEngine.run(role=...) checks each task's operator against
    `required_role` before execution;
  - ManagementService admin/owner checks on the server-level ops
    (service/cluster/log_info) and session grants (manage_session);
  - catalog session scoping is structural (the massive-filter evaluator,
    filters.compile_massive, restricts every bracket group to the session
    prefix, oph_filters.c:576-601 parity).
"""

from __future__ import annotations

# role bits (oph_auth.h:86-92)
NONE, READ, WRITE, EXECUTE, ADMIN, OWNER = 0, 1, 2, 4, 8, 16
# composite grants (oph_auth.h:94-96)
WRITER = READ | WRITE
ADMINISTRATOR = ADMIN | EXECUTE | WRITER
ALL = OWNER | ADMINISTRATOR

_ROLE_BITS = {
    "none": NONE,
    "read": READ,
    "read_force": READ,
    "write": WRITER,
    "execute": EXECUTE | WRITER,
    "admin": ADMINISTRATOR,
    "owner": ALL,
}


def role_bits(role: str | int | None) -> int:
    """Effective permission mask for a role name (cumulative) or raw mask."""
    if role is None:
        return ALL  # trusted driver-side caller (no identity supplied)
    if isinstance(role, int):
        return role
    try:
        return _ROLE_BITS[str(role).lower()]
    except KeyError:
        raise ValueError(f"unknown role {role!r} (one of {sorted(_ROLE_BITS)})") from None


# operator -> required role bit. Read = inspection/export of readable state;
# write = anything that creates, mutates, or deletes cubes/files; execute =
# external scripts; admin = server management. Unlisted operators default to
# WRITE (the conservative choice for data operators).
_READ_OPS = {
    "oph_explorecube", "oph_explorenc", "oph_cubeschema", "oph_cubesize",
    "oph_cubeelements", "oph_cubeio", "oph_list", "oph_search", "oph_find",
    "oph_fs", "oph_man", "oph_operators_list", "oph_primitives_list",
    "oph_showgrid", "oph_inspectfrag", "oph_hierarchy", "oph_loggingbk",
    "oph_exportcsv", "oph_exportnc", "oph_exportnc2", "oph_exportzarr",
    "oph_publish", "oph_get_config", "oph_resume", "oph_tasks",
    "oph_instances", "oph_cluster",
    # flow control is engine-internal bookkeeping, open to any session member
    "oph_for", "oph_endfor", "oph_if", "oph_elseif", "oph_else", "oph_endif",
    "oph_set", "oph_input", "oph_wait",
}
_EXECUTE_OPS = {"oph_script", "oph_generic", "oph_cdo"}
# oph_cluster is deliberately NOT here: the reference serves it with
# <permission>read</permission> (etc/xml/OPH_CLUSTER_operator_1.0.xml:44) —
# any user may reserve a host partition, bounded by the pool and per-user
# quota; only the info_cluster view and foreign undeploys are admin-gated,
# inside ManagementService.cluster.
_ADMIN_OPS = {"oph_service", "oph_log_info", "oph_cancel"}
_OWNER_OPS = {"oph_manage_session"}


def required_role(operator: str) -> int:
    op = operator.lower()
    if op in _ADMIN_OPS:
        return ADMIN
    if op in _OWNER_OPS:
        return OWNER
    if op in _EXECUTE_OPS:
        return EXECUTE
    if op in _READ_OPS:
        return READ
    return WRITE


def check_role(held: str | int | None, operator: str) -> None:
    """Raise PermissionError unless `held` covers the operator's required bit
    (the reference rejects the task at serve time, oph_workflow_engine.c)."""
    need = required_role(operator)
    if role_bits(held) & need != need:
        raise PermissionError(
            f"operator {operator!r} requires role bit {need} "
            f"(held: {role_bits(held)})"
        )


# -- pluggable bearer-token validation ---------------------------------------
#
# The reference accepts identity-provider tokens besides local credentials:
# oph_execute_main.c:324-420 routes a bearer token through oph_auth_token
# (validity + expiry), a user black-list check, and VO/audience mapping
# before resolving the effective userid. The engine analogue is a
# TokenValidator hook the HTTP facade calls per request: the static-table
# default preserves the existing behavior, and SignedTokenValidator covers
# the IdP-shaped path (signed tokens with expiry and audience) without an
# external dependency — a deployment behind a real OIDC provider subclasses
# TokenValidator and plugs its own introspection in.

import base64 as _base64
import hashlib as _hashlib
import hmac as _hmac
import json as _json
import time as _time


class TokenError(Exception):
    """Bearer token refused; str(exc) is the named reason (safe to serve)."""


class TokenValidator:
    """validate(token) -> (user, role-name); raises TokenError otherwise."""

    def validate(self, token: str) -> tuple[str, str]:
        raise NotImplementedError


class StaticTokenValidator(TokenValidator):
    """Opaque-token table (token -> (user, role)) + user black-list — the
    reference's local-credential path with oph_auth_is_user_black_listed
    semantics (oph_execute_main.c:341-343)."""

    def __init__(self, table: dict[str, tuple[str, str]],
                 blacklist: tuple[str, ...] | set[str] = ()):
        self.table = dict(table)
        self.blacklist = set(blacklist)

    def validate(self, token: str) -> tuple[str, str]:
        ident = self.table.get(token)
        if ident is None:
            raise TokenError("invalid or missing bearer token")
        if ident[0] in self.blacklist:
            raise TokenError(f"user {ident[0]} is black-listed")
        return ident


def _b64url(data: bytes) -> str:
    return _base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _b64url_dec(s: str) -> bytes:
    pad = -len(s) % 4
    return _base64.urlsafe_b64decode(s + "=" * pad)


class _JWTValidator(TokenValidator):
    """The ladder both signed-token validators share: structure, declared
    algorithm, payload shape, signature (each subclass's own check),
    expiry, audience, subject, black-list, role. Each failure is its own
    named TokenError so the 401 tells the operator which check refused
    (the reference logs the same distinction, oph_auth.c token path).
    `clock` is injectable for tests."""

    alg = ""

    def __init__(self, audience: str | None, blacklist, clock):
        self.audience = audience
        self.blacklist = set(blacklist)
        self.clock = clock

    def _check_signature(self, header: dict, signing: bytes, sig: bytes) -> None:
        """Raise TokenError unless `sig` signs `signing`."""
        raise NotImplementedError

    def validate(self, token: str) -> tuple[str, str]:
        parts = token.split(".")
        if len(parts) != 3:
            raise TokenError("malformed token")
        try:
            header = _json.loads(_b64url_dec(parts[0]))
            payload = _json.loads(_b64url_dec(parts[1]))
            sig = _b64url_dec(parts[2])
        except Exception:
            raise TokenError("malformed token") from None
        if not isinstance(header, dict) or header.get("alg") != self.alg:
            # refuse unexpected algorithms outright (alg-confusion guard: an
            # HS256 token must never reach the RSA path, where the classic
            # attack signs with the PUBLIC key as HMAC secret)
            raise TokenError("unsupported token algorithm")
        if not isinstance(payload, dict):
            # a correctly-signed non-object payload must still be a named
            # 401, never an AttributeError from payload.get below
            raise TokenError("malformed token payload")
        self._check_signature(header, f"{parts[0]}.{parts[1]}".encode(), sig)
        exp = payload.get("exp")
        if exp is None:
            raise TokenError("token has no expiry claim")
        try:
            if self.clock() >= float(exp):
                raise TokenError("token expired")
        except (TypeError, ValueError):
            raise TokenError("malformed expiry claim") from None
        if self.audience is not None:
            aud = payload.get("aud")
            auds = aud if isinstance(aud, list) else [aud]
            if self.audience not in auds:
                raise TokenError("token audience mismatch")
        sub = payload.get("sub")
        if not sub:
            raise TokenError("token has no subject claim")
        if sub in self.blacklist:
            raise TokenError(f"user {sub} is black-listed")
        role = str(payload.get("role", "read"))
        try:
            role_bits(role)
        except ValueError:
            raise TokenError(f"unknown role claim {role!r}") from None
        return (str(sub), role)


class SignedTokenValidator(_JWTValidator):
    """HMAC-SHA256 signed tokens (the JWT HS256 shape): header.payload.sig
    with claims sub (user), role, exp (unix seconds), aud, checked by the
    shared ladder."""

    alg = "HS256"

    def __init__(self, secret: bytes | str, audience: str | None = None,
                 blacklist: tuple[str, ...] | set[str] = (),
                 clock=_time.time):
        self.secret = secret.encode() if isinstance(secret, str) else secret
        super().__init__(audience, blacklist, clock)

    def issue(self, user: str, role: str = "read", ttl: float = 3600.0,
              audience: str | None = None, **extra) -> str:
        """Mint a token (test/ops convenience — a real IdP signs its own)."""
        header = {"alg": "HS256", "typ": "JWT"}
        payload = {"sub": user, "role": role,
                   "exp": self.clock() + ttl, **extra}
        aud = audience if audience is not None else self.audience
        if aud is not None:
            payload["aud"] = aud
        signing = (
            _b64url(_json.dumps(header, separators=(",", ":")).encode())
            + "."
            + _b64url(_json.dumps(payload, separators=(",", ":")).encode())
        )
        sig = _hmac.new(self.secret, signing.encode(), _hashlib.sha256)
        return signing + "." + _b64url(sig.digest())

    def _check_signature(self, header: dict, signing: bytes, sig: bytes) -> None:
        good = _hmac.new(self.secret, signing, _hashlib.sha256).digest()
        if not _hmac.compare_digest(sig, good):
            raise TokenError("bad token signature")


# -- RS256 (asymmetric) verification against published keys ------------------
#
# The reference's OpenID path verifies provider-signed tokens against the
# IdP's published keys (oph_auth.c token handling; oph_execute_main.c:324-420
# routes the bearer token through validity/expiry/black-list/audience). The
# engine analogue verifies RS256 signatures — RSASSA-PKCS1-v1_5 with SHA-256,
# RFC 8017 §8.2.2, implemented from the public spec on stdlib ints — against
# keys loaded from a local JWKS (RFC 7517) or PEM SubjectPublicKeyInfo file.
# No network: the deployment fetches/rotates the key file out of band, which
# is also how air-gapped IdP deployments pin provider keys.

# DigestInfo DER prefix for SHA-256 (RFC 8017 §9.2 notes)
_SHA256_DER_PREFIX = bytes.fromhex(
    "3031300d060960864801650304020105000420"
)


def _rsa_pkcs1_v15_verify(n: int, e: int, signing: bytes, sig: bytes) -> bool:
    """RSASSA-PKCS1-v1_5-VERIFY (RFC 8017 §8.2.2): RSAVP1 then a constant
    EMSA encoding comparison. Pure int arithmetic — pow() IS the RSA op."""
    k = (n.bit_length() + 7) // 8
    if len(sig) != k:
        return False
    s = int.from_bytes(sig, "big")
    if s >= n:
        return False
    em = pow(s, e, n).to_bytes(k, "big")
    digest = _hashlib.sha256(signing).digest()
    t = _SHA256_DER_PREFIX + digest
    ps_len = k - len(t) - 3
    if ps_len < 8:
        return False
    expected = b"\x00\x01" + b"\xff" * ps_len + b"\x00" + t
    return _hmac.compare_digest(em, expected)


def _der_read(buf: bytes, pos: int) -> tuple[int, bytes, int]:
    """One DER TLV: returns (tag, value, next_pos). Minimal parser for the
    SubjectPublicKeyInfo / RSAPublicKey shapes only."""
    if pos + 2 > len(buf):
        raise ValueError("truncated DER")
    tag = buf[pos]
    ln = buf[pos + 1]
    pos += 2
    if ln & 0x80:
        n_len = ln & 0x7F
        if n_len == 0 or pos + n_len > len(buf):
            raise ValueError("bad DER length")
        ln = int.from_bytes(buf[pos:pos + n_len], "big")
        pos += n_len
    if pos + ln > len(buf):
        raise ValueError("truncated DER value")
    return tag, buf[pos:pos + ln], pos + ln


def _rsa_from_der(der: bytes) -> tuple[int, int]:
    """(n, e) from either SubjectPublicKeyInfo (X.509 'PUBLIC KEY') or a
    bare PKCS#1 RSAPublicKey ('RSA PUBLIC KEY')."""
    tag, body, _ = _der_read(der, 0)
    if tag != 0x30:
        raise ValueError("not a DER SEQUENCE")
    tag1, v1, p = _der_read(body, 0)
    if tag1 == 0x30:  # SPKI: SEQUENCE(AlgorithmIdentifier) BIT STRING(key)
        tag2, v2, _ = _der_read(body, p)
        if tag2 != 0x03 or not v2 or v2[0] != 0:
            raise ValueError("bad SPKI bit string")
        return _rsa_from_der(v2[1:])
    if tag1 == 0x02:  # PKCS#1: INTEGER n, INTEGER e
        tag2, v2, _ = _der_read(body, p)
        if tag2 != 0x02:
            raise ValueError("bad RSAPublicKey")
        return int.from_bytes(v1, "big"), int.from_bytes(v2, "big")
    raise ValueError("unrecognized public-key DER")


def rsa_key_from_pem(pem: str) -> tuple[int, int]:
    """(n, e) from a PEM 'PUBLIC KEY' (SPKI) or 'RSA PUBLIC KEY' (PKCS#1)
    block."""
    lines = [
        ln.strip() for ln in pem.splitlines()
        if ln.strip() and not ln.startswith("-----")
    ]
    return _rsa_from_der(_base64.b64decode("".join(lines)))


def rsa_keys_from_jwks(jwks: dict) -> dict[str, tuple[int, int]]:
    """kid -> (n, e) for every RSA signature key in an RFC 7517 key set.
    Keys without a kid get positional names ('#0', ...)."""
    out: dict[str, tuple[int, int]] = {}
    for i, k in enumerate(jwks.get("keys", [])):
        if k.get("kty") != "RSA" or k.get("use", "sig") != "sig":
            continue
        try:
            n = int.from_bytes(_b64url_dec(k["n"]), "big")
            e = int.from_bytes(_b64url_dec(k["e"]), "big")
        except Exception:
            continue
        out[str(k.get("kid", f"#{i}"))] = (n, e)
    return out


class RS256TokenValidator(_JWTValidator):
    """Provider-signed JWTs (RS256) verified against locally-configured
    public keys — the reference's OpenID verify path with the key fetch
    replaced by a pinned JWKS/PEM file. Same named-401 ladder as the HMAC
    validator, with the key lookup (kid) before the signature check."""

    alg = "RS256"

    def __init__(self, keys: dict[str, tuple[int, int]],
                 audience: str | None = None,
                 blacklist: tuple[str, ...] | set[str] = (),
                 clock=_time.time):
        if not keys:
            raise ValueError("RS256TokenValidator needs at least one key")
        self.keys = dict(keys)
        super().__init__(audience, blacklist, clock)

    @classmethod
    def from_jwks_file(cls, path: str, **kw) -> "RS256TokenValidator":
        with open(path) as fh:
            return cls(rsa_keys_from_jwks(_json.load(fh)), **kw)

    @classmethod
    def from_pem_file(cls, path: str, kid: str = "#0", **kw) -> "RS256TokenValidator":
        with open(path) as fh:
            return cls({kid: rsa_key_from_pem(fh.read())}, **kw)

    def _check_signature(self, header: dict, signing: bytes, sig: bytes) -> None:
        kid = header.get("kid")
        if kid is not None:
            cand = [self.keys[kid]] if kid in self.keys else []
            if not cand:
                raise TokenError(f"unknown signing key {kid!r}")
        else:
            cand = list(self.keys.values())
        if not any(_rsa_pkcs1_v15_verify(n, e, signing, sig) for n, e in cand):
            raise TokenError("bad token signature")
