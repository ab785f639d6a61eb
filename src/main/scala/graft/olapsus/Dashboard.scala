package graft.olapsus

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame

/** The reference's analytics dashboard (dashboard/app.py:181-305 — a
  * five-tab Plotly-Dash app over the six serving queries) re-expressed
  * as a dependency-free HTTP server inside the Spark session: the JDK's
  * built-in `com.sun.net.httpserver` serves a static single-page app
  * (vanilla JS + inline SVG charts) plus one JSON API route per
  * dashboard callback. Where the reference round-trips every click
  * through Postgres (app.py:29-32), this serves the same §2.8 queries
  * from [[ServingQueries]] planned by Catalyst against the live
  * warehouse — same data contract, same parameterization (familia /
  * city / year-range), zero new dependencies.
  *
  * Routes (1:1 with app.py callbacks):
  *   - `GET /`                → the tabbed page (app.py:181-225 layout)
  *   - `GET /api/familias`    → dropdown options (app.py:283-290)
  *   - `GET /api/top_causes?familia=X` → donut data (app.py:293-305)
  *   - `GET /api/rollup2`     → births by state × age band (app.py:239-245)
  *   - `GET /api/slice?city=X&start=Y&end=Z` → monthly deaths (app.py:247-259)
  *   - `GET /api/pivot`       → year × UF matrix (app.py:262-269)
  *   - `GET /api/drill`       → births⋈deaths per city/year (app.py:271-280)
  *   - `GET /api/rollup1`     → the orphaned first-roll-up callback
  *                              (app.py:229-236 — wired to no tab in the
  *                              reference layout, served here anyway)
  *
  * JSON bodies are `{"columns":[...],"rows":[{...}]}` with rows
  * serialized by Spark's own `DataFrame.toJSON` (column-name-keyed
  * objects) — no hand-rolled value escaping. Serving concurrency: a
  * small fixed pool; SparkSession is thread-safe for concurrent `sql`,
  * and each handler runs an independent action (the concurrent-client
  * contract ServingEndpointSpec pins for the Thrift twin).
  *
  * This is a serving-path component, not a data-path one: results are
  * collected to the driver because a dashboard response IS a driver
  * payload (bounded: aggregates over dimension domains, the same rows
  * the reference ships to the browser).
  */
object Dashboard {

  def start(wh: Warehouse, port: Int): HttpServer = {
    wh.registerViews()
    val server = HttpServer.create(new InetSocketAddress("localhost", port), 0)
    // Daemon workers: a stopped server leaves no thread that keeps the
    // JVM alive (DashServe blocks on its own main thread instead).
    server.setExecutor(Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r, "dashboard-worker")
      t.setDaemon(true)
      t
    }))

    def params(ex: HttpExchange): Map[String, String] = {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      q.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
      }.toMap
    }
    def respond(ex: HttpExchange, status: Int, contentType: String, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", s"$contentType; charset=utf-8")
      ex.sendResponseHeaders(status, bytes.length)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    def dfJson(df: DataFrame): String = {
      val cols = df.columns.map(c => "\"" + c.replace("\"", "\\\"") + "\"").mkString(",")
      val rows = df.toJSON.collect().mkString(",")
      s"""{"columns":[$cols],"rows":[$rows]}"""
    }
    def jsonError(msg: String): String = {
      // Exception messages routinely carry newlines (Spark embeds plans);
      // a raw control char inside a JSON string literal is invalid JSON
      // and turns the error body itself into a client-side parse error.
      val escaped = String.valueOf(msg).flatMap {
        case '\\' => "\\\\"
        case '"'  => "\\\""
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      s"""{"error":"$escaped"}"""
    }

    /** One JSON route: runs the query, 400s on missing/invalid params.
      * The JDK server matches contexts by string PREFIX (`/api/pivotfoo`
      * lands on `/api/pivot`), so the handler re-checks the exact path
      * and 404s anything that merely shares the prefix. A single
      * trailing slash is tolerated (`/api/pivot/` serves the route —
      * the prefix matcher always accepted it, so clients may rely on
      * it). */
    def route(path: String)(fn: Map[String, String] => DataFrame): Unit =
      server.createContext(path, (ex: HttpExchange) =>
        try {
          if (ex.getRequestURI.getPath.stripSuffix("/") != path)
            respond(ex, 404, "application/json", jsonError("not found"))
          else if (ex.getRequestMethod != "GET")
            respond(ex, 405, "application/json", jsonError("GET only"))
          else respond(ex, 200, "application/json", dfJson(fn(params(ex))))
        } catch {
          case e: IllegalArgumentException =>
            respond(ex, 400, "application/json", jsonError(e.getMessage))
          case e: Throwable =>
            respond(ex, 500, "application/json", jsonError(String.valueOf(e.getMessage)))
        })
    def need(p: Map[String, String], k: String): String =
      p.getOrElse(k, throw new IllegalArgumentException(s"missing query parameter '$k'"))

    route("/api/familias")(_ => ServingQueries.familiaOptions(wh))
    route("/api/top_causes")(p =>
      ServingQueries.top10CausesByOccupation(wh, need(p, "familia")))
    route("/api/rollup1")(_ => ServingQueries.firstRollUp(wh))
    route("/api/rollup2")(_ => ServingQueries.secondRollUp(wh))
    route("/api/slice") { p =>
      val (start, end) =
        try (need(p, "start").toInt, need(p, "end").toInt)
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException("start/end must be integer years") }
      ServingQueries.sliceAndDice(wh, need(p, "city"), start, end)
    }
    route("/api/pivot")(_ => ServingQueries.pivotYearUf(wh))
    route("/api/drill")(_ => ServingQueries.drillAcross(wh))

    server.createContext("/", (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath == "/") respond(ex, 200, "text/html", Page)
      else respond(ex, 404, "application/json", jsonError("not found")))
    server.start()
    server
  }

  /** The five reference tabs (app.py:181-225), dependency-free: tab
    * switcher + fetch + inline-SVG bar/line/heatmap/donut renderers. */
  private[olapsus] val Page: String =
    """<!doctype html>
<html><head><meta charset="utf-8"><title>OLAP Dashboard - Nascimentos / Obitos</title>
<style>
 body{font-family:sans-serif;margin:16px}
 .tabs button{padding:8px 12px;border:1px solid #999;background:#eee;cursor:pointer}
 .tabs button.active{background:#fff;font-weight:bold;border-bottom:2px solid #fff}
 .tab{display:none;border:1px solid #999;padding:12px;margin-top:-1px}
 .tab.show{display:block}
 .controls{display:flex;gap:10px;align-items:center;margin-bottom:12px}
 svg{background:#fafafa;border:1px solid #ddd}
 .err{color:#a00}
</style></head><body>
<h2>OLAP Dashboard - Nascimentos / &Oacute;bitos</h2>
<div class="tabs" id="tabs"></div>
<div class="tab" id="tab0">
  <div class="controls"><label>Fam&iacute;lia de Ocupa&ccedil;&atilde;o:</label>
    <select id="familia"></select></div>
  <svg id="svg0" width="900" height="420"></svg></div>
<div class="tab" id="tab1">
  <div class="controls"><button onclick="loadRollup2()">Atualizar</button></div>
  <svg id="svg1" width="960" height="420"></svg></div>
<div class="tab" id="tab2">
  <div class="controls">
    <label>Cidade:</label><input id="city" value="">
    <label>Ano in&iacute;cio:</label><input id="start" type="number" value="2020" style="width:70px">
    <label>Ano fim:</label><input id="end" type="number" value="2023" style="width:70px">
    <button onclick="loadSlice()">Executar</button></div>
  <svg id="svg2" width="960" height="420"></svg></div>
<div class="tab" id="tab3">
  <div class="controls"><button onclick="loadPivot()">Atualizar Pivot</button></div>
  <svg id="svg3" width="960" height="480"></svg></div>
<div class="tab" id="tab4">
  <div class="controls"><button onclick="loadDrill()">Atualizar Drill</button></div>
  <svg id="svg4" width="960" height="420"></svg></div>
<script>
var TABS=["1) Top 10 Causas por Familia","2) Nascimentos estado x faixa etaria",
          "3) Slice & Dice - Obitos cidade/periodo","4) Pivot - Obitos estado x ano",
          "5) Drill-across - Nascimentos x Obitos"];
var tabs=document.getElementById('tabs');
TABS.forEach(function(t,i){
  var b=document.createElement('button');b.textContent=t;
  b.onclick=function(){select(i);};tabs.appendChild(b);});
function select(i){
  for(var j=0;j<TABS.length;j++){
    tabs.children[j].classList.toggle('active',j===i);
    document.getElementById('tab'+j).classList.toggle('show',j===i);}}
select(0);
function api(path,cb,svgId){
  fetch(path).then(function(r){return r.json();}).then(function(d){
    if(d.error){msg(svgId,'Erro: '+d.error);}else{cb(d.rows,d.columns);}})
    .catch(function(e){msg(svgId,'Erro: '+e);});}
function clearSvg(id){var s=document.getElementById(id);while(s.firstChild)s.removeChild(s.firstChild);return s;}
function el(s,n,attrs,text){var e=document.createElementNS('http://www.w3.org/2000/svg',n);
  for(var k in attrs)e.setAttribute(k,attrs[k]);
  if(text!==undefined)e.textContent=text;s.appendChild(e);return e;}
function msg(id,t){var s=clearSvg(id);el(s,'text',{x:20,y:30,'class':'err',fill:'#a00'},t);}
var PAL=['#4c78a8','#f58518','#54a24b','#e45756','#72b7b2','#b279a2','#ff9da6',
         '#9d755d','#bab0ac','#d67195'];
function groupedBars(id,rows,catKey,serKey,valKey,title){
  var s=clearSvg(id),W=+s.getAttribute('width'),H=+s.getAttribute('height');
  if(!rows.length){msg(id,'Sem dados');return;}
  var cats=[],sers=[],val={},mx=0;
  rows.forEach(function(r){
    if(cats.indexOf(r[catKey])<0)cats.push(r[catKey]);
    if(sers.indexOf(r[serKey])<0)sers.push(r[serKey]);
    var v=+r[valKey]||0;val[r[catKey]+'|'+r[serKey]]=v;if(v>mx)mx=v;});
  var m={l:50,r:10,t:28,b:70},pw=W-m.l-m.r,ph=H-m.t-m.b;
  el(s,'text',{x:m.l,y:18,'font-weight':'bold'},title);
  var bw=pw/cats.length;
  cats.forEach(function(c,i){
    sers.forEach(function(g,j){
      var v=val[c+'|'+g]||0,h=mx?v/mx*ph:0;
      el(s,'rect',{x:m.l+i*bw+j*(bw-6)/sers.length+3,y:m.t+ph-h,
        width:Math.max(1,(bw-6)/sers.length-1),height:h,fill:PAL[j%PAL.length]});});
    var t=el(s,'text',{x:m.l+i*bw+bw/2,y:H-m.b+12,'font-size':'10',
      'text-anchor':'end',transform:'rotate(-40 '+(m.l+i*bw+bw/2)+' '+(H-m.b+12)+')'},
      String(c).slice(0,18));});
  el(s,'text',{x:8,y:m.t+10,'font-size':'10'},String(mx));
  sers.forEach(function(g,j){
    el(s,'rect',{x:m.l+j*130,y:H-28,width:10,height:10,fill:PAL[j%PAL.length]});
    el(s,'text',{x:m.l+j*130+14,y:H-19,'font-size':'10'},String(g).slice(0,18));});}
function donut(id,rows,labelKey,valKey,title){
  var s=clearSvg(id),W=+s.getAttribute('width'),H=+s.getAttribute('height');
  if(!rows.length){msg(id,'Sem dados');return;}
  el(s,'text',{x:10,y:18,'font-weight':'bold'},title);
  var cx=240,cy=H/2+10,R=150,r=75,tot=0;
  rows.forEach(function(x){tot+=(+x[valKey]||0);});
  var a0=-Math.PI/2;
  rows.forEach(function(x,i){
    var frac=tot?(+x[valKey]||0)/tot:0,a1=a0+frac*2*Math.PI;
    var large=(a1-a0)>Math.PI?1:0;
    var p='M '+(cx+R*Math.cos(a0))+' '+(cy+R*Math.sin(a0))+
      ' A '+R+' '+R+' 0 '+large+' 1 '+(cx+R*Math.cos(a1))+' '+(cy+R*Math.sin(a1))+
      ' L '+(cx+r*Math.cos(a1))+' '+(cy+r*Math.sin(a1))+
      ' A '+r+' '+r+' 0 '+large+' 0 '+(cx+r*Math.cos(a0))+' '+(cy+r*Math.sin(a0))+' Z';
    el(s,'path',{d:p,fill:PAL[i%PAL.length],stroke:'#fff'});
    el(s,'rect',{x:480,y:40+i*22,width:10,height:10,fill:PAL[i%PAL.length]});
    el(s,'text',{x:495,y:50+i*22,'font-size':'11'},
      String(x[labelKey]).slice(0,48)+' ('+x[valKey]+')');
    a0=a1;});}
function lineChart(id,rows,xKey,valKey,title){
  var s=clearSvg(id),W=+s.getAttribute('width'),H=+s.getAttribute('height');
  if(!rows.length){msg(id,'Sem dados');return;}
  var m={l:50,r:10,t:28,b:50},pw=W-m.l-m.r,ph=H-m.t-m.b,mx=0;
  rows.forEach(function(r){var v=+r[valKey]||0;if(v>mx)mx=v;});
  el(s,'text',{x:m.l,y:18,'font-weight':'bold'},title);
  var pts=rows.map(function(r,i){
    var x=m.l+(rows.length>1?i/(rows.length-1):0.5)*pw;
    var y=m.t+ph-(mx?(+r[valKey]||0)/mx*ph:0);return[x,y,r[xKey]];});
  el(s,'polyline',{points:pts.map(function(p){return p[0]+','+p[1];}).join(' '),
    fill:'none',stroke:PAL[0],'stroke-width':'2'});
  pts.forEach(function(p,i){
    el(s,'circle',{cx:p[0],cy:p[1],r:3,fill:PAL[0]});
    if(i%Math.ceil(rows.length/12)===0)
      el(s,'text',{x:p[0],y:H-m.b+12,'font-size':'10','text-anchor':'end',
        transform:'rotate(-40 '+p[0]+' '+(H-m.b+12)+')'},String(p[2]));});
  el(s,'text',{x:8,y:m.t+10,'font-size':'10'},String(mx));}
function heatmap(id,rows,rowKey,title,allCols){
  var s=clearSvg(id),W=+s.getAttribute('width'),H=+s.getAttribute('height');
  if(!rows.length){msg(id,'Sem dados');return;}
  // Column list comes from the payload's schema: toJSON omits
  // null-valued fields per row, so keys of the first row would drop
  // any UF whose first-year cell is empty.
  var cols=(allCols||Object.keys(rows[0])).filter(function(k){return k!==rowKey;});
  var m={l:60,r:10,t:40,b:20},cw=(W-m.l-m.r)/cols.length,ch=(H-m.t-m.b)/rows.length,mx=0;
  rows.forEach(function(r){cols.forEach(function(c){var v=+r[c]||0;if(v>mx)mx=v;});});
  el(s,'text',{x:m.l,y:18,'font-weight':'bold'},title);
  cols.forEach(function(c,j){
    el(s,'text',{x:m.l+j*cw+cw/2,y:m.t-6,'font-size':'10','text-anchor':'middle'},c);});
  rows.forEach(function(r,i){
    el(s,'text',{x:m.l-6,y:m.t+i*ch+ch/2+4,'font-size':'10','text-anchor':'end'},
      String(r[rowKey]));
    cols.forEach(function(c,j){
      var v=+r[c]||0,t=mx?v/mx:0;
      el(s,'rect',{x:m.l+j*cw,y:m.t+i*ch,width:cw-1,height:ch-1,
        fill:'rgb('+Math.round(255-180*t)+','+Math.round(255-120*t)+',255)'});});});}
var fam=document.getElementById('familia');
api('/api/familias',function(rows){
  rows.forEach(function(r){
    var o=document.createElement('option');
    o.value=r.descricao_familia;o.textContent=r.descricao_familia;fam.appendChild(o);});
  if(rows.length){fam.value=rows[0].descricao_familia;loadTopCauses();}},'svg0');
fam.onchange=loadTopCauses;
function loadTopCauses(){
  api('/api/top_causes?familia='+encodeURIComponent(fam.value),function(rows){
    donut('svg0',rows,'descricao_subcategoria','total_obitos',
      'Top 10 Causas - '+fam.value);},'svg0');}
function loadRollup2(){
  api('/api/rollup2',function(rows){
    groupedBars('svg1',rows,'estado','faixa_etaria_mae','quantidade_nascimentos',
      'Nascimentos por estado e faixa etaria da mae');},'svg1');}
function loadSlice(){
  var c=document.getElementById('city').value;
  if(!c){msg('svg2','Digite o nome da cidade (campo nome_municipio).');return;}
  var st=document.getElementById('start').value,en=document.getElementById('end').value;
  api('/api/slice?city='+encodeURIComponent(c)+'&start='+st+'&end='+en,
    function(rows){
      rows.forEach(function(r){r.mes_ano=String(r.mes).padStart?
        (String(r.mes).length<2?'0'+r.mes:r.mes)+'/'+r.ano:r.mes+'/'+r.ano;});
      lineChart('svg2',rows,'mes_ano','obitos','Obitos em '+c+' entre '+st+' e '+en);},
    'svg2');}
function loadPivot(){
  api('/api/pivot',function(rows,cols){
    heatmap('svg3',rows,'ANO','Quantidade de Obitos por Estado por Ano',cols);},'svg3');}
function loadDrill(){
  api('/api/drill',function(rows){
    rows.forEach(function(r){
      r.crescimento_natural=(+r.quantidade_nascimentos||0)-(+r.quantidade_obitos||0);});
    groupedBars('svg4',rows,'municipio','ano','crescimento_natural',
      'Crescimento natural (Nascimentos - Obitos) por Municipio e Ano');},'svg4');}
loadRollup2();loadPivot();loadDrill();
</script></body></html>
"""
}

/** `runMain graft.olapsus.DashServe --warehouse DIR [--port 8050]` —
  * serve the dashboard until killed (reference default port,
  * dashboard/app.py:308). */
object DashServe {
  def main(args: Array[String]): Unit = {
    val a = Cli.parseArgs(args)
    val spark = graft.GraftSession.builder("olapsus-dashboard",
      graft.GraftSession.envCpus("4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val port = a.getOrElse("port", "8050").toInt
    Dashboard.start(new Warehouse(spark, a("warehouse")), port)
    println(s"dashboard for warehouse ${a("warehouse")} at http://localhost:$port/")
    Thread.currentThread.join()
  }
}
