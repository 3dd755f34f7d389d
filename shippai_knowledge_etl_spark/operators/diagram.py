"""Diagonal-diagram layout math as columnar DataFrame transforms.

Re-expresses ``build_diagonal_diagram`` (src/render_pdf.py:141-321) —
the reference's most computation-dense function — as pure expressions
and window functions over an exploded items table (SURVEY.md §2.8
W3–W7). The output is a ``draw_ops`` table (rect / string / line rows);
actual PDF emission is an edge sink (SURVEY §7.2 step 9), deliberately
separated from the layout math so the math is testable and distributed.

Units: integer tenth-millimetres (the reference uses float mm·pt); all
arithmetic is exact, halving goes through doubles (exact for ints).
Every transform partitions by the case id — one case's diagram never
crosses an executor boundary, so the whole layer scales linearly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Layout constants, tenth-mm (reference src/render_pdf.py:204-213).
BAR_W = 420
BAR_H = 55
STEP_X = 38
STEP_Y = 72
SEP_EXTRA = 30
DSEP_EXTRA = 50
MARGIN_LEFT = 20
MARGIN_TOP = 80
BOTTOM_PAD = 50
BRACE_GAP = 20

CATEGORY_COLORS = {
    "cause": "#dce6f1",
    "action": "#e2efda",
    "result": "#fce4d6",
}


def _tagged(scenario: Column, cat: str) -> Column:
    return F.transform(
        F.flatten(scenario.getField(cat)),
        lambda x: F.struct(x.alias("text"), F.lit(cat).alias("category")),
    )


def flatten_renumber(df: DataFrame, id_col: str, scenario_col: str = "scenario") -> DataFrame:
    """W3: nested category groups → flat (idx0, num, text, category) with
    a dense global numbering 1..N across cause→action→result
    (src/render_pdf.py:149-172). Pure posexplode — position comes from
    array order, never row order (SURVEY §7.4 item 1).

    Also carries ``cause_count`` / ``action_end`` / ``total_items`` —
    the reference's category-boundary scalars.
    """
    s = F.col(scenario_col)
    all_items = F.concat(_tagged(s, "cause"), _tagged(s, "action"), _tagged(s, "result"))
    return (
        df.select(
            F.col(id_col),
            F.size(F.flatten(s.getField("cause"))).alias("cause_count"),
            (
                F.size(F.flatten(s.getField("cause")))
                + F.size(F.flatten(s.getField("action")))
            ).alias("action_end"),
            F.posexplode(all_items).alias("idx0", "item"),
        )
        .select(
            id_col,
            "cause_count",
            "action_end",
            "idx0",
            (F.col("idx0") + 1).alias("num"),
            F.col("item.text").alias("text"),
            F.col("item.category").alias("category"),
        )
        .withColumn(
            "total_items",
            F.count(F.lit(1)).over(Window.partitionBy(id_col)),
        )
    )


def _running_ends(sizes: Column, offset: Column) -> Column:
    """Cumulative group-end indices (0-based) for one category's groups,
    shifted by the category's absolute start offset (A4,
    src/render_pdf.py:176-201)."""
    cum = F.aggregate(
        F.transform(sizes, lambda g: F.size(g)),
        F.expr("CAST(array() AS ARRAY<INT>)"),
        lambda acc, x: F.concat(
            acc, F.array(F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit(0)) + x)
        ),
    )
    return F.transform(cum, lambda e: e + offset - 1)


def boundary_markers(df: DataFrame, id_col: str, scenario_col: str = "scenario") -> DataFrame:
    """W4: per case, the 0-indexed item positions that get a single
    separator line (group ends) and a double line (category ends, which
    override singles; the last item gets none) —
    src/render_pdf.py:176-201 + U4 set subtraction.
    Output: (id, singles array<int>, doubles array<int>).
    """
    s = F.col(scenario_col)
    cause_n = F.size(F.flatten(s.getField("cause")))
    action_n = F.size(F.flatten(s.getField("action")))
    result_n = F.size(F.flatten(s.getField("result")))
    total = cause_n + action_n + result_n
    ends = F.concat(
        _running_ends(s.getField("cause"), F.lit(0)),
        _running_ends(s.getField("action"), cause_n),
        _running_ends(s.getField("result"), cause_n + action_n),
    )
    doubles = F.concat(
        F.when(cause_n > 0, F.array(cause_n - 1)).otherwise(
            F.expr("CAST(array() AS ARRAY<INT>)")
        ),
        F.when(action_n > 0, F.array(cause_n + action_n - 1)).otherwise(
            F.expr("CAST(array() AS ARRAY<INT>)")
        ),
    )
    singles = F.array_except(F.array_except(ends, doubles), F.array(total - 1))
    # NB: a double at the final index stays in the set — it still widens
    # the canvas (y-extra loop, src/render_pdf.py:222-226) even though
    # the draw loop stops before it; separator_line_ops filters it.
    return df.select(
        F.col(id_col),
        total.alias("total_items"),
        F.array_sort(singles).alias("singles"),
        F.array_sort(doubles).alias("doubles"),
    )


def with_y_positions(items: DataFrame, markers: DataFrame, id_col: str) -> DataFrame:
    """W5: running y position with data-dependent spacing — the
    cumulative-window form of the reference's y accumulation loop
    (src/render_pdf.py:217-227):
      y[i] = margin_top + i*step_y + Σ_{j<i} extra[j]
    plus the per-case total height (drawing canvas extent).
    """
    j = items.join(markers.drop("total_items"), on=id_col)
    extra = (
        F.when(F.array_contains("doubles", F.col("idx0")), F.lit(DSEP_EXTRA))
        .when(F.array_contains("singles", F.col("idx0")), F.lit(SEP_EXTRA))
        .otherwise(F.lit(0))
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("idx0")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(id_col)
    out = j.withColumn("extra", extra).withColumn(
        "y",
        F.lit(MARGIN_TOP)
        + F.col("idx0") * STEP_Y
        + F.coalesce(F.sum("extra").over(w_prev), F.lit(0)),
    )
    return out.withColumn(
        "total_h",
        F.lit(MARGIN_TOP)
        + F.col("total_items") * STEP_Y
        + F.sum("extra").over(w_all)
        + F.lit(BOTTOM_PAD),
    )


def category_ranges(items: DataFrame, id_col: str) -> DataFrame:
    """W6/A5: per category present, first/last item index and the mid
    index used for brace-label placement (src/render_pdf.py:257-269)."""
    return items.groupBy(id_col, "category").agg(
        F.min("idx0").alias("first_idx"),
        F.max("idx0").alias("last_idx"),
        F.floor((F.min("idx0") + F.max("idx0")) / 2).cast("int").alias("mid_idx"),
    )


def positioned_items(df: DataFrame, id_col: str, scenario_col: str = "scenario") -> DataFrame:
    """Fused zero-shuffle layout: every per-case quantity (numbering,
    markers, extras, y positions, canvas height) is computed ARRAY-SIDE
    within the case's row, then exploded once.

    The staged forms above (flatten_renumber → boundary_markers →
    with_y_positions) are semantically identical but cost a count
    window + a join + a running-sum window — three shuffles of purely
    per-case data. One case = one row, so none of them are needed: this
    is the plan you want at 100 TB (a narrow map + generator; scales
    embarrassingly). Kept alongside the staged forms because the driver
    oracles pin both to the same answers.
    """
    # Generate barrier: CollapseProject would otherwise re-inline the
    # (HOF-heavy, CSE-exempt) scenario expression into every column that
    # references it below — evaluating it ~8× per row. explode(array(x))
    # materializes it once per row and costs no shuffle.
    df = df.select(
        F.col(id_col),
        F.explode(F.array(F.col(scenario_col))).alias("__scn"),
    )
    s = F.col("__scn")
    all_items = F.concat(
        _tagged(s, "cause"), _tagged(s, "action"), _tagged(s, "result")
    )
    cause_n = F.size(F.flatten(s.getField("cause")))
    action_n = F.size(F.flatten(s.getField("action")))
    total = F.size(all_items)
    ends = F.concat(
        _running_ends(s.getField("cause"), F.lit(0)),
        _running_ends(s.getField("action"), cause_n),
        _running_ends(s.getField("result"), cause_n + action_n),
    )
    doubles = F.concat(
        F.when(cause_n > 0, F.array(cause_n - 1)).otherwise(
            F.expr("CAST(array() AS ARRAY<INT>)")
        ),
        F.when(action_n > 0, F.array(cause_n + action_n - 1)).otherwise(
            F.expr("CAST(array() AS ARRAY<INT>)")
        ),
    )
    singles = F.array_except(F.array_except(ends, doubles), F.array(total - 1))

    base = df.select(
        F.col(id_col),
        all_items.alias("_items"),
        cause_n.alias("cause_count"),
        (cause_n + action_n).alias("action_end"),
        total.alias("total_items"),
        F.array_sort(singles).alias("singles"),
        F.array_sort(doubles).alias("doubles"),
    )
    extras = F.transform(
        F.sequence(F.lit(0), F.col("total_items") - 1),
        lambda i: F.when(F.array_contains("doubles", i), F.lit(DSEP_EXTRA))
        .when(F.array_contains("singles", i), F.lit(SEP_EXTRA))
        .otherwise(F.lit(0)),
    )
    # y[i] = margin + i*step + prefix-sum(extras[<i]) — fold builds the
    # prefix sums array-side (A4/W5 without a window).
    prefix = F.aggregate(
        F.col("_extras"),
        F.expr("CAST(array(0) AS ARRAY<INT>)"),
        lambda acc, x: F.concat(acc, F.array(F.element_at(acc, -1) + x)),
    )
    with_arrays = (
        base.withColumn("_extras", extras)
        .withColumn("_prefix", prefix)
        .withColumn(
            "total_h",
            F.lit(MARGIN_TOP)
            + F.col("total_items") * STEP_Y
            + F.element_at("_prefix", -1)
            + F.lit(BOTTOM_PAD),
        )
    )
    exploded = with_arrays.select(
        id_col,
        "cause_count",
        "action_end",
        "total_items",
        "singles",
        "doubles",
        "total_h",
        "_prefix",
        F.posexplode("_items").alias("idx0", "item"),
    )
    return exploded.select(
        id_col,
        "cause_count",
        "action_end",
        "total_items",
        "singles",
        "doubles",
        "total_h",
        "idx0",
        (F.col("idx0") + 1).alias("num"),
        F.col("item.text").alias("text"),
        F.col("item.category").alias("category"),
        (
            F.lit(MARGIN_TOP)
            + F.col("idx0") * STEP_Y
            # _prefix[i] (0-based) = Σ extras[j<i]; element_at is 1-based
            + F.element_at("_prefix", F.col("idx0") + 1)
        ).alias("y"),
    )


def positioned_items_chunked(
    df: DataFrame,
    id_col: str,
    scenario_col: str = "scenario",
    chunk_n: int = 3,
    nested: bool = True,
) -> DataFrame:
    """Same output as :func:`positioned_items`, restricted to scenarios
    whose groups came from W1 chunk-by-``chunk_n`` (every group full
    except a category's last) — true of ``scenario_struct`` and the CLI
    scenario decode, i.e. every production caller.

    Under that contract each group boundary is pure arithmetic:
      - category ends sit at local index n_c - 1 (doubles for cause/
        action), interior group ends at local {k-1, 2k-1, ...}
        (``sequence`` with step k — codegen'd);
      - the number of separator-extras preceding item i collapses to
        ``li div k`` own-category ends plus closed-form per-category
        totals ``ceil(n/k) - 1``, so y positions need no prefix-sum
        fold at all.

    Why it exists: the general form's ``_tagged`` / ``_running_ends`` /
    prefix ``aggregate`` are lambda HOFs — CodegenFallback, evaluated
    on the shared interpreter whose call sites degrade ~10× once
    profile-polluted (measured on the shingle pipeline; see
    dedup.shingle_structs). This form is zero-lambda end to end: one
    narrow codegen'd projection + one Generate, nothing interpreted.
    Equality with the general form over the scenario corpus is pinned
    by tests/test_diagram.py::test_chunked_fastpath_equals_general, and
    the driver oracles check both shapes' answers.

    ``nested=False`` takes the struct's categories as FLAT
    ``array<string>`` (pre-chunk, e.g. straight out of
    ``slice_categories``): since chunking is arithmetic under this
    contract, flatten(chunk(x)) == x means the chunk step can be
    skipped entirely — which removes the last lambda (chunk's
    ``transform``) from the whole scenario→layout pipeline.
    """
    k = chunk_n
    df = df.select(
        F.col(id_col), F.explode(F.array(F.col(scenario_col))).alias("__scn")
    )
    s = F.col("__scn")
    if nested:
        cause = F.flatten(s.getField("cause"))
        action = F.flatten(s.getField("action"))
        result = F.flatten(s.getField("result"))
    else:
        cause = s.getField("cause")
        action = s.getField("action")
        result = s.getField("result")
    cause_n, action_n, result_n = F.size(cause), F.size(action), F.size(result)
    total = cause_n + action_n + result_n
    empty_i = F.expr("CAST(array() AS ARRAY<INT>)")

    def cat_ends(off: Column, n: Column) -> Column:
        seq = F.when(
            n >= k, F.sequence(off + (k - 1), off + n - 1, F.lit(k))
        ).otherwise(empty_i)
        last = F.when(n > 0, F.array(off + n - 1)).otherwise(empty_i)
        return F.array_union(seq, last)  # dedups the n%k==0 overlap

    ends = F.concat(
        cat_ends(F.lit(0), cause_n),
        cat_ends(cause_n, action_n),
        cat_ends(cause_n + action_n, result_n),
    )
    doubles = F.concat(
        F.when(cause_n > 0, F.array(cause_n - 1)).otherwise(empty_i),
        F.when(action_n > 0, F.array(cause_n + action_n - 1)).otherwise(
            empty_i
        ),
    )
    singles = F.array_except(F.array_except(ends, doubles), F.array(total - 1))

    def n_singles(n: Column) -> Column:
        # interior ends of a category = ceil(n/k) - 1 (its last end is a
        # double or the excluded global last)
        return F.when(
            n > 0, F.floor((n + (k - 1)) / k).cast("int") - 1
        ).otherwise(F.lit(0))

    s_cause, s_action, s_result = (
        n_singles(cause_n),
        n_singles(action_n),
        n_singles(result_n),
    )
    d_cause = (cause_n > 0).cast("int")
    d_action = (action_n > 0).cast("int")
    base = df.select(
        F.col(id_col),
        F.concat(cause, action, result).alias("_texts"),
        cause_n.alias("cause_count"),
        (cause_n + action_n).alias("action_end"),
        total.alias("total_items"),
        F.array_sort(singles).alias("singles"),
        F.array_sort(doubles).alias("doubles"),
        s_cause.alias("_sc"),
        s_action.alias("_sa"),
        d_cause.alias("_dc"),
        d_action.alias("_da"),
        (
            F.lit(MARGIN_TOP)
            + total * STEP_Y
            + (s_cause + s_action + s_result) * SEP_EXTRA
            + (d_cause + d_action) * DSEP_EXTRA
            + F.lit(BOTTOM_PAD)
        ).alias("total_h"),
    )
    ex = base.select(
        id_col,
        "cause_count",
        "action_end",
        "total_items",
        "singles",
        "doubles",
        "total_h",
        "_sc",
        "_sa",
        "_dc",
        "_da",
        F.posexplode("_texts").alias("idx0", "text"),
    )
    i = F.col("idx0")
    in_cause = i < F.col("cause_count")
    in_action = i < F.col("action_end")
    local = (
        i
        - F.when(in_cause, F.lit(0))
        .when(in_action, F.col("cause_count"))
        .otherwise(F.col("action_end"))
    )
    prev_singles = (
        F.when(in_cause, F.lit(0))
        .when(in_action, F.col("_sc"))
        .otherwise(F.col("_sc") + F.col("_sa"))
    )
    prev_doubles = (
        F.when(in_cause, F.lit(0))
        .when(in_action, F.col("_dc"))
        .otherwise(F.col("_dc") + F.col("_da"))
    )
    own_singles = F.floor(local / k).cast("int")
    return ex.select(
        id_col,
        "cause_count",
        "action_end",
        "total_items",
        "singles",
        "doubles",
        "total_h",
        "idx0",
        (i + 1).alias("num"),
        "text",
        F.when(in_cause, F.lit("cause"))
        .when(in_action, F.lit("action"))
        .otherwise(F.lit("result"))
        .alias("category"),
        (
            F.lit(MARGIN_TOP)
            + i * STEP_Y
            + (prev_singles + own_singles) * SEP_EXTRA
            + prev_doubles * DSEP_EXTRA
        ).alias("y"),
    )


def rect_ops(positioned: DataFrame, id_col: str) -> DataFrame:
    """Item bars + their numbered labels (src/render_pdf.py:238-255).
    PDF y grows upward: y_pdf = total_h - y - bar_h."""
    color = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in CATEGORY_COLORS.items() for x in kv]
        ),
        F.col("category"),
    )
    return positioned.select(
        F.col(id_col),
        F.col("idx0"),
        F.lit("rect").alias("op"),
        (F.lit(MARGIN_LEFT) + F.col("idx0") * STEP_X).alias("x"),
        (F.col("total_h") - F.col("y") - BAR_H).alias("y_pdf"),
        F.lit(BAR_W).alias("w"),
        F.lit(BAR_H).alias("h"),
        color.alias("fill"),
        F.format_string("%02d. %s", F.col("num"), F.col("text")).alias("label"),
    )


def separator_line_ops(positioned: DataFrame, id_col: str) -> DataFrame:
    """W7: separator lines between item i and i+1, placed from item i's
    position (src/render_pdf.py:285-299). Double lines are a ±1-unit
    pair; singles a single thin line. Emitted only for i < total-1
    (guaranteed by boundary_markers dropping the last index)."""
    is_double = F.array_contains("doubles", F.col("idx0"))
    is_single = F.array_contains("singles", F.col("idx0"))
    mid = F.when(is_double, F.lit(DSEP_EXTRA / 2.0)).otherwise(F.lit(SEP_EXTRA / 2.0))
    y_line = F.col("total_h") - (F.col("y") + STEP_Y + mid) - BAR_H / 2.0
    x_start = F.when(
        is_double, F.lit(MARGIN_LEFT) + (F.col("idx0") + 1) * STEP_X - 10
    ).otherwise(F.lit(MARGIN_LEFT) + (F.col("idx0") + 1) * STEP_X)
    x_end = F.when(is_double, x_start + BAR_W + BRACE_GAP).otherwise(x_start + BAR_W)
    return (
        positioned.filter(
            (is_double | is_single) & (F.col("idx0") < F.col("total_items") - 1)
        )
        .select(
            F.col(id_col),
            F.col("idx0"),
            F.when(is_double, F.lit("double")).otherwise(F.lit("single")).alias(
                "line_type"
            ),
            x_start.alias("x_start"),
            x_end.alias("x_end"),
            y_line.alias("y_line"),
        )
    )


def draw_ops(positioned: DataFrame, id_col: str, title_col: Column | None = None) -> DataFrame:
    """All of a case's drawable geometry as ONE ordered row set, in the
    reference's section order (src/render_pdf.py:324-471): title text,
    item bars (+labels), separator lines (doubles as a ±4-unit pair),
    category braces (+labels). Uniform schema feeds the S6 PDF sink:

      (id, section, seq, op, x, y, x2, y2, w, h, fill, label,
       total_h, page_w)

    Everything stays per-case relational rows — the sink only ever sees
    a sorted partition, never a collected document.

    ``positioned`` is read by five union branches plus the dims
    aggregate, so a caller whose input is expensive to recompute
    materialises it first (the CLI passes rows of its checkpointed case
    records); nothing is persisted here."""
    dims = positioned.groupBy(id_col).agg(
        F.max("total_h").cast("long").alias("total_h"),
        (
            F.lit(MARGIN_LEFT)
            + F.max("idx0") * STEP_X
            + BAR_W
            + BRACE_GAP
            + F.lit(200)
        ).cast("long").alias("page_w"),
    )
    nul = F.lit(None).cast("double")

    title = dims.select(
        F.col(id_col),
        F.lit(0).alias("section"),
        F.lit(0).alias("seq"),
        F.lit("text").alias("op"),
        F.lit(float(MARGIN_LEFT)).alias("x"),
        (F.col("total_h") - 40).cast("double").alias("y"),
        nul.alias("x2"),
        nul.alias("y2"),
        nul.alias("w"),
        nul.alias("h"),
        F.lit(None).cast("string").alias("fill"),
        (title_col if title_col is not None else F.col(id_col).cast("string")).alias(
            "label"
        ),
    )
    rects = rect_ops(positioned, id_col).select(
        F.col(id_col),
        F.lit(1).alias("section"),
        F.col("idx0").alias("seq"),
        F.col("op"),
        F.col("x").cast("double"),
        F.col("y_pdf").cast("double").alias("y"),
        nul.alias("x2"),
        nul.alias("y2"),
        F.col("w").cast("double"),
        F.col("h").cast("double"),
        F.col("fill"),
        F.col("label"),
    )
    # double separators render as a parallel pair, singles as one line
    seps = separator_line_ops(positioned, id_col)
    seps = seps.select(
        "*",
        F.explode(
            F.when(
                F.col("line_type") == "double", F.array(F.lit(-4), F.lit(4))
            ).otherwise(F.array(F.lit(0)))
        ).alias("dy"),
    ).select(
        F.col(id_col),
        F.lit(2).alias("section"),
        (F.col("idx0") * 2 + (F.col("dy") > 0).cast("int")).alias("seq"),
        F.lit("line").alias("op"),
        F.col("x_start").cast("double").alias("x"),
        (F.col("y_line") + F.col("dy")).cast("double").alias("y"),
        F.col("x_end").cast("double").alias("x2"),
        (F.col("y_line") + F.col("dy")).cast("double").alias("y2"),
        nul.alias("w"),
        nul.alias("h"),
        F.lit(None).cast("string").alias("fill"),
        F.lit(None).cast("string").alias("label"),
    )
    braces = brace_ops(positioned, id_col)
    brace_lines = braces.select(
        F.col(id_col),
        F.lit(3).alias("section"),
        F.lit(0).alias("seq"),
        F.lit("line").alias("op"),
        F.col("brace_x").cast("double").alias("x"),
        F.col("y_bot").alias("y"),
        F.col("brace_x").cast("double").alias("x2"),
        F.col("y_top").alias("y2"),
        nul.alias("w"),
        nul.alias("h"),
        F.lit(None).cast("string").alias("fill"),
        F.lit(None).cast("string").alias("label"),
    )
    brace_labels = braces.select(
        F.col(id_col),
        F.lit(3).alias("section"),
        F.lit(1).alias("seq"),
        F.lit("text").alias("op"),
        (F.col("brace_x") + 10).cast("double").alias("x"),
        F.col("label_y").alias("y"),
        nul.alias("x2"),
        nul.alias("y2"),
        nul.alias("w"),
        nul.alias("h"),
        F.lit(None).cast("string").alias("fill"),
        F.col("category").alias("label"),
    )
    ops = title.unionByName(rects).unionByName(seps).unionByName(brace_lines).unionByName(
        brace_labels
    )
    # plain equi-join on the case id (no broadcast hint: dims has one row
    # PER CASE, which at 100 TB is far too large to broadcast; AQE may
    # still choose broadcast at small SF)
    return ops.join(dims, on=id_col)


def brace_ops(positioned: DataFrame, id_col: str) -> DataFrame:
    """Category braces: vertical extent spans the category's first/last
    bar; the label sits at the vertical midpoint
    (src/render_pdf.py:257-283)."""
    per_cat = positioned.groupBy(id_col, "category").agg(
        F.min("idx0").alias("first_idx"),
        F.max("idx0").alias("last_idx"),
        F.max("total_h").alias("total_h"),
        F.min_by("y", "idx0").alias("y_first"),
        F.max_by("y", "idx0").alias("y_last"),
    )
    y_top = F.col("total_h") - F.col("y_first")
    y_bot = F.col("total_h") - F.col("y_last") - BAR_H
    return per_cat.select(
        F.col(id_col),
        "category",
        (F.lit(MARGIN_LEFT) + F.col("last_idx") * STEP_X + BAR_W + BRACE_GAP).alias(
            "brace_x"
        ),
        y_top.cast("double").alias("y_top"),
        y_bot.cast("double").alias("y_bot"),
        ((y_top + y_bot) / 2.0).alias("label_y"),
    )
