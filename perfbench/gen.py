"""Seeded input generators (numpy/pyarrow, run before any measured call).

Each generator returns an `Input`: the pyarrow table the program reads
(written to parquet by the caller), the raw numpy arrays the checker uses,
and a record of the realized sizes and the seed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Graph500 R-MAT quadrant probabilities (a, b, c; d = 1 - a - b - c).
RMAT_ABC = (0.57, 0.19, 0.19)

ROLES = ["user", "assistant", "tool", "assistant"]  # by turn_idx % 4
TOOLS = ["search", "python", "browser", "calc", "sql"]
TOOL_P = [0.50, 0.20, 0.15, 0.10, 0.05]  # one hub tool: half of all tool turns
CONV_PREFIX = "conv_"


@dataclass
class Input:
    table: pa.Table
    arrays: dict[str, np.ndarray]
    info: dict = field(default_factory=dict)


def rmat_edges(seed: int, scale: int, edge_factor: int) -> Input:
    """Directed R-MAT edge table (src, dst: int64) with self-loops and
    duplicate edges removed. Vertex labels are randomly permuted so that
    hub ids are spread over the id range instead of sitting at 0."""
    rng = np.random.default_rng([seed, scale, edge_factor])
    m0 = edge_factor << scale
    a, b, c = RMAT_ABC
    src = np.zeros(m0, dtype=np.int64)
    dst = np.zeros(m0, dtype=np.int64)
    for bit in range(scale):
        r = rng.random(m0)
        # quadrant a → (0,0), b → (0,1), c → (1,0), d → (1,1)
        src |= (r >= a + b).astype(np.int64) << bit
        dst |= (((r >= a) & (r < a + b)) | (r >= a + b + c)).astype(np.int64) << bit
    perm = rng.permutation(1 << scale).astype(np.int64)
    src, dst = perm[src], perm[dst]
    keep = src != dst
    key = np.unique((src[keep] << scale) | dst[keep])
    src, dst = key >> scale, key & ((1 << scale) - 1)
    n = int(np.unique(np.concatenate([src, dst])).size)
    return Input(
        pa.table({"src": src, "dst": dst}),
        {"src": src, "dst": dst},
        {"kind": "rmat", "seed": seed, "scale": scale, "edge_factor": edge_factor,
         "n": n, "m": int(src.size)},
    )


def transcripts(seed: int, n_convs: int, n_agents: int = 50) -> Input:
    """Transcripts table with the input_hint schema (conv_id, turn_idx, role,
    text, tool, ts) plus `agent`.

    Conversations have 2..32 turns; roles cycle user/assistant/tool/
    assistant; each conversation has one agent and each tool turn draws a
    tool from TOOLS with TOOL_P. Conversations start an hour apart and turns
    a minute apart with under 30 s of jitter, so `ts` is unique over the
    whole table and strictly increasing within a conversation. conv_id is
    "conv_" plus the full decimal index: unique at any count."""
    rng = np.random.default_rng([seed, n_convs, n_agents])
    n_turns = rng.integers(2, 33, size=n_convs)
    conv = np.repeat(np.arange(n_convs, dtype=np.int64), n_turns)
    starts = np.cumsum(n_turns) - n_turns
    turn = np.arange(conv.size, dtype=np.int64) - np.repeat(starts, n_turns)
    role = (turn % 4).astype(np.int8)
    tool = np.full(conv.size, -1, dtype=np.int8)
    is_tool = role == 2
    tool[is_tool] = rng.choice(len(TOOLS), size=int(is_tool.sum()), p=TOOL_P)
    agent = rng.integers(0, n_agents, size=n_convs)[conv]
    ts_s = conv * 3600 + turn * 60 + rng.integers(0, 30, size=conv.size)

    conv_ids = pc.binary_join_element_wise(
        CONV_PREFIX, pc.cast(pa.array(np.arange(n_convs)), pa.string()), ""
    )
    conv_col = conv_ids.take(pa.array(conv))
    turn_str = pc.cast(pa.array(turn), pa.string())
    agent_names = pa.array([f"agent_{i}" for i in range(n_agents)])
    table = pa.table({
        "conv_id": conv_col,
        "turn_idx": pa.array(turn.astype(np.int32)),
        "role": pa.array(ROLES).take(pa.array(role)),
        "text": pc.binary_join_element_wise(conv_col, turn_str, "_"),
        "tool": pa.array(TOOLS).take(pa.array(tool, mask=tool < 0)),
        "ts": pa.array(
            (np.datetime64("2024-01-01T00:00:00", "s") + ts_s).astype("datetime64[us]")
        ),
        "agent": agent_names.take(pa.array(agent)),
    })
    return Input(
        table,
        {"conv": conv, "turn": turn, "role": role, "tool": tool, "agent": agent,
         "ts": ts_s, "n_turns": n_turns},
        {"kind": "transcripts", "seed": seed, "conversations": n_convs,
         "turns": int(conv.size), "agents": n_agents},
    )
