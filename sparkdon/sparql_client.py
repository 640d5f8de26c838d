"""The one SPARQL-protocol client: every request sparkdon sends to a
remote endpoint — RemoteEndpoint's queries and updates, SERVICE
federation, the ``sparql`` data source's executor reads — goes through
:func:`fetch_bindings` or :func:`post_update` here, and every Basic-auth
header comes from :func:`auth_headers` (the Graph Store client's too).

Stdlib plus :mod:`sparkdon.errors` only, so an executor that imports it
for the data source pulls in neither the session nor the compiler.  The
SPARQL protocol is spoken directly over urllib (public HTTP standard:
form-encoded or direct POST, ``application/sparql-results+json``
preferred, the XML results format accepted and parsed to the same
shape).
"""

from __future__ import annotations

import base64
import json
import urllib.error
import urllib.parse
import urllib.request
import xml.etree.ElementTree as ET

from sparkdon.errors import QueryExecutionError


def auth_headers(user: str | None, passwd: str | None) -> dict[str, str]:
    """HTTP Basic credentials as a header dict (empty without a user)."""
    if user is None:
        return {}
    cred = base64.b64encode(f"{user}:{passwd or ''}".encode()).decode()
    return {"Authorization": f"Basic {cred}"}


def _dataset_params(default_graph, named_graphs) -> list:
    """Protocol dataset parameters (SPARQL 1.1 Protocol §2.1.4) as
    repeatable (name, value) pairs.  ``default_graph`` accepts a single
    IRI (reference parity: gastrodon's RemoteEndpoint default_graph) or
    a list; ``named_graphs`` a list."""
    if default_graph is None:
        dgs = []
    elif isinstance(default_graph, (list, tuple)):
        dgs = list(default_graph)
    else:
        dgs = [default_graph]
    return ([("default-graph-uri", str(g)) for g in dgs]
            + [("named-graph-uri", str(g)) for g in (named_graphs or [])])


_XRNS = "{http://www.w3.org/2005/sparql-results#}"


def _parse_xml_results(text: str | bytes) -> dict:
    """SPARQL Query Results XML Format → the JSON-results dict shape
    (fetch_bindings' output contract) — the fallback for endpoints that
    serve only ``application/sparql-results+xml``."""
    root = ET.fromstring(text)
    boolean = root.find(_XRNS + "boolean")
    if boolean is not None:
        return {"head": {}, "boolean": (boolean.text or "").strip() == "true"}
    head = [v.get("name")
            for v in root.findall(f"{_XRNS}head/{_XRNS}variable")]
    bindings = []
    for res in root.findall(f"{_XRNS}results/{_XRNS}result"):
        b = {}
        for bind in res.findall(_XRNS + "binding"):
            for child in bind:
                tag = child.tag[len(_XRNS):]
                if tag == "uri":
                    node = {"type": "uri", "value": child.text or ""}
                elif tag == "bnode":
                    node = {"type": "bnode", "value": child.text or ""}
                else:
                    node = {"type": "literal",
                            "value": "".join(child.itertext())}
                    lang = child.get(
                        "{http://www.w3.org/XML/1998/namespace}lang")
                    dt = child.get("datatype")
                    if lang:
                        node["xml:lang"] = lang
                    elif dt:
                        node["datatype"] = dt
                b[bind.get("name")] = node
        bindings.append(b)
    return {"head": {"vars": head}, "results": {"bindings": bindings}}


def _post(url: str, data: bytes, headers: dict, sparql: str,
          timeout: int) -> tuple[bytes, str]:
    """POST → (body, media type); HTTP and connection failures become
    :class:`QueryExecutionError` (friendly error, gastrodon:570-579)."""
    req = urllib.request.Request(url, data=data, headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            rtype = (resp.headers.get("Content-Type") or "") \
                .split(";", 1)[0].strip().lower()
            return resp.read(), rtype
    except urllib.error.HTTPError as e:
        body = e.read().decode(errors="replace")[:2000]
        raise QueryExecutionError(
            f"remote endpoint returned HTTP {e.code}: {body}", sparql) from None
    except urllib.error.URLError as e:
        raise QueryExecutionError(
            f"cannot reach remote endpoint {url}: {e.reason}", sparql) from None


def fetch_bindings(url: str, sparql: str, default_graph=None,
                   user: str | None = None, passwd: str | None = None,
                   timeout: int = 60, raw_post: bool = False,
                   named_graphs=None) -> dict:
    """One SPARQL-protocol query → parsed JSON results document.

    ``raw_post=True`` uses the §2.1.3 direct-POST form (body is the bare
    query, ``Content-Type: application/sparql-query``, protocol params on
    the URL) instead of form encoding — the right choice for very large
    queries, where percent-encoding inflates the body."""
    ds = _dataset_params(default_graph, named_graphs)
    if raw_post:
        if ds:
            url += ("&" if "?" in url else "?") + urllib.parse.urlencode(ds)
        data = sparql.encode()
        ctype = "application/sparql-query; charset=UTF-8"
    else:
        data = urllib.parse.urlencode([("query", sparql)] + ds).encode()
        ctype = "application/x-www-form-urlencoded"
    body, rtype = _post(url, data, {
        # JSON preferred; XML accepted for endpoints that only serve the
        # XML results format (parsed to the same shape)
        "Accept": "application/sparql-results+json, "
                  "application/sparql-results+xml;q=0.9",
        "Content-Type": ctype,
        **auth_headers(user, passwd),
    }, sparql, timeout)
    if rtype in ("application/sparql-results+xml", "application/xml",
                 "text/xml"):
        return _parse_xml_results(body)
    return json.loads(body.decode())


def post_update(url: str, sparql: str, user: str | None = None,
                passwd: str | None = None, timeout: int = 60) -> None:
    """One SPARQL 1.1 Update request (Protocol §2.2.1, form-encoded)."""
    _post(url, urllib.parse.urlencode({"update": sparql}).encode(), {
        "Content-Type": "application/x-www-form-urlencoded",
        **auth_headers(user, passwd),
    }, sparql, timeout)
