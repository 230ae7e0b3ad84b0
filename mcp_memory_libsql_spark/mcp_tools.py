"""The reference server's MCP tool surface as a dispatchable registry.

``api.MemoryClient`` mirrors the reference's *database client*
(src/db/client.ts); this module mirrors its *MCP layer*
(src/index.ts): the six advertised tools with their names,
descriptions, annotations, and input-schema constraints
(index.ts:23-64 valibot pipes → plain JSON-schema dicts here), and
``dispatch`` produces the exact response payload shape the reference
returns — ``{"content": [{"type": "text", "text": ...}]}`` with the
reference's success strings (index.ts:86, 228, 276, 324), JSON bodies
for the read tools (index.ts:132, 176), and
``{"error": "internal_error", "message": ...}`` + ``isError`` on
handler failure (index.ts:95-107).

A user of the reference can point an MCP host adapter at
``list_tools()``/``dispatch()`` and run the same tool calls they run
today; everything below the dispatch line executes as Spark jobs over
GraphStore parquet snapshots.
"""

from __future__ import annotations

import json
from typing import Any

from . import sanitize as caps
from .api import MemoryClient
from .kg.search import MAX_SEARCH_LIMIT


def _string(max_length: int) -> dict:
    return {"type": "string", "maxLength": max_length}


_NAME = _string(caps.MAX_ENTITY_NAME_LENGTH)
_RELATION_TYPE = _string(caps.MAX_RELATION_TYPE_LENGTH)

TOOLS: list[dict] = [
    {
        "name": "create_entities",
        "description": "Create new entities with observations",
        "annotations": {"readOnlyHint": False, "idempotentHint": True},
        "schema": {
            "type": "object",
            "properties": {
                "entities": {
                    "type": "array",
                    "maxItems": 50,
                    "items": {
                        "type": "object",
                        "properties": {
                            "name": _NAME,
                            "entityType": _string(caps.MAX_ENTITY_TYPE_LENGTH),
                            "observations": {
                                "type": "array",
                                "maxItems": caps.MAX_OBSERVATIONS_PER_ENTITY,
                                "items": _string(caps.MAX_OBSERVATION_LENGTH),
                            },
                        },
                        "required": ["name", "entityType", "observations"],
                    },
                }
            },
            "required": ["entities"],
        },
    },
    {
        "name": "search_nodes",
        "description": (
            "Search for entities and their relations using text search "
            "with relevance ranking"
        ),
        "annotations": {"readOnlyHint": True},
        "schema": {
            "type": "object",
            "properties": {
                "query": {"type": "string", "maxLength": 512},
                "limit": {"type": "number", "maximum": MAX_SEARCH_LIMIT},
            },
            "required": ["query"],
        },
    },
    {
        "name": "read_graph",
        "description": "Get recent entities and their relations",
        "annotations": {"readOnlyHint": True},
        "schema": {"type": "object", "properties": {}, "required": []},
    },
    {
        "name": "create_relations",
        "description": "Create relations between entities",
        "annotations": {"readOnlyHint": False, "idempotentHint": False},
        "schema": {
            "type": "object",
            "properties": {
                "relations": {
                    "type": "array",
                    "maxItems": 100,
                    "items": {
                        "type": "object",
                        "properties": {
                            "source": _NAME,
                            "target": _NAME,
                            "type": _RELATION_TYPE,
                        },
                        "required": ["source", "target", "type"],
                    },
                }
            },
            "required": ["relations"],
        },
    },
    {
        "name": "delete_entity",
        "description": (
            "Delete an entity and all its associated data (observations "
            "and relations). This is a destructive operation that cannot "
            "be undone."
        ),
        "annotations": {
            "destructiveHint": True,
            "readOnlyHint": False,
            "idempotentHint": True,
        },
        "schema": {
            "type": "object",
            "properties": {"name": _NAME},
            "required": ["name"],
        },
    },
    {
        "name": "delete_relation",
        "description": (
            "Delete a specific relation between entities. This is a "
            "destructive operation that cannot be undone."
        ),
        "annotations": {
            "destructiveHint": True,
            "readOnlyHint": False,
            "idempotentHint": True,
        },
        "schema": {
            "type": "object",
            "properties": {"source": _NAME, "target": _NAME, "type": _RELATION_TYPE},
            "required": ["source", "target", "type"],
        },
    },
]


def list_tools() -> list[dict]:
    """The advertised tool list (the MCP ``tools/list`` response
    body)."""
    return TOOLS


def _check(schema: dict, args: dict, path: str = "arguments") -> None:
    """Schema-constraint validation mirroring the reference's valibot
    layer: the MCP framework rejects malformed arguments BEFORE the
    tool handler runs (so these raise instead of returning an
    isError payload)."""
    if schema.get("type") == "object":
        if not isinstance(args, dict):
            raise ValueError(f"{path}: expected object")
        for req in schema.get("required", []):
            if req not in args:
                raise ValueError(f"{path}.{req}: required")
        for key, sub in schema.get("properties", {}).items():
            if key in args:
                _check(sub, args[key], f"{path}.{key}")
    elif schema.get("type") == "array":
        if not isinstance(args, list):
            raise ValueError(f"{path}: expected array")
        if "maxItems" in schema and len(args) > schema["maxItems"]:
            raise ValueError(f"{path}: at most {schema['maxItems']} items")
        for i, item in enumerate(args):
            _check(schema["items"], item, f"{path}[{i}]")
    elif schema.get("type") == "string":
        if not isinstance(args, str):
            raise ValueError(f"{path}: expected string")
        if "maxLength" in schema and len(args) > schema["maxLength"]:
            raise ValueError(f"{path}: at most {schema['maxLength']} chars")
    elif schema.get("type") == "number":
        if isinstance(args, bool) or not isinstance(args, (int, float)):
            raise ValueError(f"{path}: expected number")
        if "maximum" in schema and args > schema["maximum"]:
            raise ValueError(f"{path}: at most {schema['maximum']}")


def _text(t: str) -> dict:
    return {"content": [{"type": "text", "text": t}]}


def _error(e: Exception) -> dict:
    body = {"error": "internal_error", "message": str(e)}
    return {
        "content": [{"type": "text", "text": json.dumps(body, indent=2)}],
        "isError": True,
    }


def dispatch(client: MemoryClient, name: str, arguments: dict[str, Any]) -> dict:
    """Run one MCP tool call → the reference's response payload.

    Unknown tool / schema-invalid arguments raise (the framework
    layer's rejection); handler failures return the reference's
    ``internal_error`` payload with ``isError`` (index.ts:95-107).
    """
    tool = next((t for t in TOOLS if t["name"] == name), None)
    if tool is None:
        raise ValueError(f"unknown tool: {name}")
    _check(tool["schema"], arguments)
    try:
        if name == "create_entities":
            ents = arguments["entities"]
            client.create_entities(ents)
            return _text(
                f"Successfully processed {len(ents)} entities "
                "(created new or updated existing)"
            )
        if name == "search_nodes":
            kwargs = {}
            if arguments.get("limit") is not None:
                kwargs["limit"] = int(arguments["limit"])
            result = client.search_nodes(arguments["query"], **kwargs)
            return _text(json.dumps(result, indent=2))
        if name == "read_graph":
            return _text(json.dumps(client.read_graph(), indent=2))
        if name == "create_relations":
            rels = arguments["relations"]
            # the reference converts tool-schema field names to the
            # internal Relation shape before the db call (index.ts:218)
            client.create_relations(
                [
                    {
                        "from": r["source"],
                        "to": r["target"],
                        "relationType": r["type"],
                    }
                    for r in rels
                ]
            )
            return _text(f"Created {len(rels)} relations")
        if name == "delete_entity":
            ent = arguments["name"]
            client.delete_entity(ent)
            return _text(
                f'Successfully deleted entity "{ent}" and its associated data'
            )
        # delete_relation
        src, tgt, typ = (
            arguments["source"],
            arguments["target"],
            arguments["type"],
        )
        client.delete_relation(src, tgt, typ)
        return _text(f"Successfully deleted relation: {src} -> {tgt} ({typ})")
    except Exception as e:  # noqa: BLE001 — mirrors the reference's catch-all
        return _error(e)
