package graft.api

import graft.graph.Components
import graft.graph.Components.{ComponentDef, Param, PortSpec, p, req}
import graft.util.JsonStr.quote

/**
 * Component config-schema discovery for UIs, mirroring the reference's
 * GET /schemas surface (reference: src/etl_core/api/routers/schemas.py:
 * 362-479 — per-component JSON schemas served from the component
 * registry). This object only renders: every comp_type's description,
 * params and port contract come from its def in graft.graph.Components,
 * as a JSON-Schema-shaped object — `properties` with type + description,
 * and a `required` list. The descriptions double as the user-facing
 * parameter documentation.
 */
object ComponentSchemas {

  private def paramJson(pr: Param): String =
    s"${quote(pr.name)}:{" +
      s""""type":${quote(pr.tpe)},"description":${quote(pr.desc)}}"""

  /** Shared renderer for the form/full/hidden views: one place owns the
    * properties/required envelope shape. */
  private def renderSchema(d: ComponentDef, params: Seq[Param],
                           withPorts: Boolean): String = {
    val props = params.map(paramJson).mkString("{", ",", "}")
    val required = params.filter(_.required).map(x => quote(x.name)).mkString("[", ",", "]")
    s"""{"comp_type":${quote(d.compType)},"description":${quote(d.description)},""" +
      s""""properties":$props,"required":$required""" +
      (if (withPorts) s",${portsJson(d)}}" else "}")
  }

  /** One component's JSON-Schema-shaped description (the FORM view:
    * per-type config params only — reference /{comp_type}/form,
    * schemas.py:410-440, serves the schema with GUI-hidden wiring fields
    * removed; here the def's params already are that projection). */
  def schemaJson(compType: String): Option[String] =
    Components.get(compType).map(d => renderSchema(d, d.params, withPorts = false))

  /** All comp_types with their schemas (GET /schemas). */
  def listJson: String =
    Components.all.map(d => renderSchema(d, d.params, withPorts = false)).mkString("[", ",", "]")

  def compTypes: Seq[String] = Components.all.map(_.compType)

  // ------------------------------------------------- full / hidden views

  /** The wiring-level fields every component carries (JobConfig.
    * parseComponent) — the engine's analogue of the reference's
    * GUI-hidden base fields (routes/schemas are `used_in_table=False` on
    * the reference's Component model, served only by the /hidden and
    * /full views, schemas.py:442-479). */
  private val baseFields: Seq[Param] = Seq(
    req("name", "string", "unique component name within the job"),
    req("comp_type", "string", "component type (see /schemas/component_types)"),
    p("routes", "object", "{out_port: [{to, in_port}] | \"component\" | [\"component\"]} — downstream wiring"),
    p("in_port_schemas", "object", "{in_port: {fields: [FieldDef]}} — required for every used in port"),
    p("out_port_schemas", "object", "{out_port: {fields: [FieldDef]}} — required for every routed out port"),
    p("extra_input_ports", "array", "additional declared in-port names (sql/schema_mapping fan-in)"),
    p("extra_output_ports", "array", "additional declared out-port names (split fan-out)"))

  /** The def's port contract, attached to the /full and /hidden views
    * like the reference's class-var attachment (schemas.py
    * `_attach_class_vars`: port specs + ALLOW_NO_INPUTS). A port list
    * derived from the config renders as [] and the def's note says how. */
  private def portsJson(d: ComponentDef): String = {
    def arr(ports: Components.Ports) = (ports match {
      case Components.Fixed(ps) => ps
      case _: Components.FromConfig => Nil
    }).map { case PortSpec(n, r, m) =>
      s"""{"name":${quote(n)},"required":$r,"multi":$m}"""
    }.mkString("[", ",", "]")
    s""""ports":{"in":${arr(d.in)},"out":${arr(d.out)},""" +
      s""""allow_no_inputs":${d.isSource}""" +
      d.portNote.map(n => s""","note":${quote(n)}""").getOrElse("") + "}"
  }

  /** /{comp_type}/full — form params + wiring base fields + the port
    * contract (nothing stripped; reference schemas.py:442-471). */
  def fullSchemaJson(compType: String): Option[String] =
    Components.get(compType).map(d => renderSchema(d, baseFields ++ d.params, withPorts = true))

  /** /{comp_type}/hidden — ONLY the GUI-hidden wiring fields
    * (reference schemas.py:474-479). */
  def hiddenSchemaJson(compType: String): Option[String] =
    Components.get(compType).map(d => renderSchema(d, baseFields, withPorts = true))

  /** GET /schemas/job — the job-config document schema ($defs preserved,
    * not inlined: reference schemas.py:362-388). Mirrors exactly what
    * JobConfig.parse accepts. */
  def jobSchemaJson: String = {
    val compProps = baseFields.map(paramJson).mkString("{", ",", "}")
    val compRequired = baseFields.filter(_.required).map(x => quote(x.name)).mkString("[", ",", "]")
    s"""{"title":"JobConfig","type":"object","properties":{""" +
      s""""name":{"type":"string","description":"job name"},""" +
      s""""num_of_retries":{"type":"integer","description":"attempts beyond the first, default 0"},""" +
      s""""strategy_type":{"type":"string","description":"row | bulk | bigdata — execution hint; results are identical"},""" +
      s""""components":{"type":"array","items":{"$$ref":"#/$$defs/Component"}}},""" +
      s""""required":["name","components"],""" +
      s""""$$defs":{"Component":{"type":"object","properties":$compProps,""" +
      s""""required":$compRequired,""" +
      s""""description":"per-type config params are sibling keys of comp_type; see /schemas/{comp_type}/form"}}}"""
  }
}
